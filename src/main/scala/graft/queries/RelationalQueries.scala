package graft.queries

import graft.{QueryDef, Tables}
import graft.ops.{Joins, MasterData, Profile, Skew, TextAnalysis}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Relational queries: every SELECT-pipeline capability of the
  * reference (SURVEY.md §2.2, §2.4, §2.6) as declarative DataFrame plans,
  * the beyond-reference relational surface (joins, windows, set ops,
  * scalar functions, grouping sets, subqueries), the TPC-H shapes adapted
  * to the synthetic schema, interval algebra, and the warehouse
  * change-data family (MERGE, CDC apply, type-2 SCD).
  *
  * Oracle-parity rules:
  *  - Money sums go through DECIMAL(18,2) so the aggregate is exact and
  *    order-independent, then cast back to DOUBLE so Spark and DuckDB
  *    agree bit-for-bit (a plain double sum is ordering-dependent).
  *  - Every query ends in a total ORDER BY over a unique key set so the
  *    row order is deterministic on both sides.
  */
object RelationalQueries {

  /** Exact, order-independent sum of a ~2-decimal double column. */
  private def dsum(c: Column): Column =
    sum(c.cast(DecimalType(18, 2))).cast("double")

  /** Exact sum of extendedprice*(1-discount)-style products (scale 4). */
  private def dsumExpr(c: Column): Column =
    sum(c).cast("double")

  private def dec(c: Column): Column = c.cast(DecimalType(18, 2))

  /** TPC-H revenue term with exact decimal accumulation on both sides:
    * DECIMAL(18,2) * DECIMAL(18,2) is exact (scale 4), the SUM is
    * exact, and only the final cast produces a double.
    */
  private def revenueTerm(price: Column, discount: Column): Column =
    price.cast(DecimalType(18, 2)) *
      (lit(1).cast(DecimalType(18, 2)) - discount.cast(DecimalType(18, 2)))

  /** Exact decimal sum for the scale-4 revenue term (dsum re-casts to
    * scale 2, which would round the term before accumulating).
    */
  private def dsumExact(c: Column): Column = sum(c).cast("double")

  /** The SCD2 fixture dimension: customers as open rows from epoch 0. */
  private def scd2Dim(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "customer")
      .select(col("c_custkey").cast("long").as("key"),
        col("c_mktsegment").as("attr"), lit(0L).as("valid_from"),
        lit(null).cast("long").as("valid_to"), lit(true).as("is_current"))

  /** The SCD2 fixture batch: segment moves (every 10th key; every 50th
    * a planted NO-OP equal to the stored attr), a late-arriving
    * eff ≤ valid_from change (every 33rd — 33 is NOT a multiple of 10,
    * so keys like 33 receive ONLY the late update and exercise the
    * late-arrival passthrough; keys ≡ 0 (mod 330) receive both and
    * exercise the latest-wins reduce), and unknown keys born open.
    */
  private def scd2Updates(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables.load(s, dir, "customer")
    val off = broadcast(cust.agg((max(col("c_custkey")) + 1L).as("_off")))
    cust.filter(col("c_custkey") % 10 === 0)
      .select(col("c_custkey").cast("long").as("key"),
        when(col("c_custkey") % 50 === 0, col("c_mktsegment"))
          .otherwise(lit("MOVED")).as("attr"),
        lit(86400L).as("eff"))
      .unionByName(cust.filter(col("c_custkey") % 33 === 0)
        .select(col("c_custkey").cast("long").as("key"),
          lit("LATE").as("attr"), lit(0L).as("eff")))
      .unionByName(cust.filter(col("c_custkey") % 100 === 0)
        .crossJoin(off)
        .select((col("c_custkey") + col("_off")).as("key"),
          lit("NEWSEG").as("attr"), lit(86400L).as("eff")))
  }

  /** The q_scd2 merged-history derivation, shared with Round9c's
    * point-in-time lookup oracle: leaves a `scd(k, attr, valid_from,
    * valid_to, is_current)` table plus `dim` and `o` in scope.
    */
  private val scd2CoreSql: String =
    """dim AS (SELECT CAST(c_custkey AS BIGINT) AS k,
             c_mktsegment AS attr FROM customer),
         o AS (SELECT MAX(k) + 1 AS off FROM dim),
         upd0 AS (
           SELECT k, CASE WHEN k % 50 = 0 THEN attr ELSE 'MOVED' END
             AS attr, CAST(86400 AS BIGINT) AS eff
           FROM dim WHERE k % 10 = 0
           UNION ALL
           SELECT k, 'LATE', CAST(0 AS BIGINT) FROM dim WHERE k % 33 = 0
           UNION ALL
           SELECT k + off, 'NEWSEG', CAST(86400 AS BIGINT)
           FROM dim CROSS JOIN o WHERE k % 100 = 0),
         upd AS (
           SELECT k, attr, eff FROM (
             SELECT k, attr, eff, ROW_NUMBER() OVER (PARTITION BY k
               ORDER BY eff DESC, attr DESC) AS rn FROM upd0)
           WHERE rn = 1),
         m AS (
           SELECT COALESCE(d.k, u.k) AS k, d.attr AS dattr,
             u.attr AS uattr, u.eff,
             d.k IS NOT NULL AS has_cur, u.k IS NOT NULL AS has_u
           FROM dim d FULL JOIN upd u ON d.k = u.k),
         scd AS (
           SELECT k, uattr AS attr, eff AS valid_from,
             CAST(NULL AS BIGINT) AS valid_to, TRUE AS is_current
           FROM m WHERE NOT has_cur
           UNION ALL
           SELECT k, dattr, CAST(0 AS BIGINT), CAST(NULL AS BIGINT), TRUE
           FROM m WHERE has_cur AND (NOT has_u OR uattr = dattr OR eff <= 0)
           UNION ALL
           SELECT k, dattr, CAST(0 AS BIGINT), eff, FALSE
           FROM m WHERE has_cur AND has_u AND uattr <> dattr AND eff > 0
           UNION ALL
           SELECT k, uattr, eff, CAST(NULL AS BIGINT), TRUE
           FROM m WHERE has_cur AND has_u AND uattr <> dattr AND eff > 0)"""

  private def multiUpdates(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables.load(s, dir, "customer")
    val off = broadcast(cust.agg((max(col("c_custkey")) + 1L).as("_off")))
    val k = col("c_custkey").cast("long")
    cust.filter(k % 10 === 0).select(k.as("key"),
        when(k % 50 === 0, col("c_mktsegment")).otherwise(lit("M1"))
          .as("attr"), lit(1000L).as("eff"))
      .unionByName(cust.filter(k % 10 === 0)
        .select(k.as("key"), lit("M2").as("attr"), lit(2000L).as("eff")))
      .unionByName(cust.filter(k % 20 === 0)
        .select(k.as("key"), lit("ZZZ").as("attr"), lit(2000L).as("eff")))
      .unionByName(cust.filter(k % 50 === 0)
        .select(k.as("key"), lit("M1").as("attr"), lit(1500L).as("eff")))
      .unionByName(cust.filter(k % 33 === 0)
        .select(k.as("key"), lit("LATE").as("attr"), lit(0L).as("eff")))
      .unionByName(cust.filter(k % 100 === 0).crossJoin(off)
        .select((k + col("_off")).as("key"), lit("N1").as("attr"),
          lit(500L).as("eff")))
      .unionByName(cust.filter(k % 100 === 0).crossJoin(off)
        .select((k + col("_off")).as("key"), lit("N2").as("attr"),
          lit(1500L).as("eff")))
  }

  private def intervals(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "events")
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_timestamp(col("ts")).as("lo"))
      .withColumn("hi", col("lo") + (col("event_id") % 7 + 1) * 600L)

  private val ivSql: String =
    """iv AS (
         SELECT user_id, event_id, event_type,
           CAST(FLOOR(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS lo,
           CAST(FLOOR(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT)
             + (event_id % 7 + 1) * 600 AS hi
         FROM events)"""

  val defs: Seq[QueryDef] = Seq(
    // ---- aggregation (SURVEY §2.4) ----
    QueryDef("q1_agg", (s, dir) => {
      // Flagship: TPC-H Q1 shape. Partial aggregation map-side, single
      // shuffle on (l_returnflag, l_linestatus); scan prunes to 7 cols.
      val li = Tables.load(s, dir, "lineitem")
      li.filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          dsumExpr(dec(col("l_extendedprice")) * (lit(1).cast(DecimalType(18, 2)) - dec(col("l_discount")))).as("sum_disc_price"),
          (sum(col("l_quantity")) / count(lit(1))).as("avg_qty"),
          (dsum(col("l_extendedprice")) / count(lit(1))).as("avg_price"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },
      """SELECT l_returnflag, l_linestatus,
         SUM(l_quantity) AS sum_qty,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
         SUM(l_quantity) / COUNT(*) AS avg_qty,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_price,
         COUNT(*) AS count_order
         FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
         GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus"""),
    QueryDef("q_global_agg", (s, dir) => {
      // Global aggregate (reference "__global__" group, SURVEY A2).
      val li = Tables.load(s, dir, "lineitem")
      li.agg(
        count(lit(1)).as("n_rows"),
        sum(col("l_quantity")).as("sum_qty"),
        min(col("l_quantity")).as("min_qty"),
        max(col("l_quantity")).as("max_qty"),
        countDistinct(col("l_orderkey")).as("n_orders"))
    },
      """SELECT COUNT(*) AS n_rows, SUM(l_quantity) AS sum_qty,
         MIN(l_quantity) AS min_qty, MAX(l_quantity) AS max_qty,
         COUNT(DISTINCT l_orderkey) AS n_orders FROM lineitem"""),
    QueryDef("q_lenient_groupby", (s, dir) => {
      // Reference dialect quirk A3: GROUP BY without aggregates injects
      // COUNT(*) named `count`.
      Tables.load(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("count"))
        .orderBy(col("o_orderpriority"))
    },
      """SELECT o_orderpriority, COUNT(*) AS count FROM orders
         GROUP BY o_orderpriority ORDER BY o_orderpriority"""),
    QueryDef("q_having", (s, dir) => {
      // HAVING = filter on aliased agg columns after groupBy (SURVEY A10).
      Tables.load(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("spend"))
        .filter(col("n_orders") >= 3)
        .orderBy(col("o_custkey"))
    },
      """SELECT o_custkey, COUNT(*) AS n_orders,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend
         FROM orders GROUP BY o_custkey HAVING COUNT(*) >= 3 ORDER BY o_custkey"""),
    QueryDef("q_count_col", (s, dir) => {
      // COUNT(*) vs COUNT(col) null-skipping semantics (SURVEY A4/A5).
      Tables.load(s, dir, "orders")
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_all"), count(col("o_custkey")).as("n_cust"))
        .orderBy(col("o_orderstatus"))
    },
      """SELECT o_orderstatus, COUNT(*) AS n_all, COUNT(o_custkey) AS n_cust
         FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"""),

    // ---- filter / predicates (SURVEY §2.2) ----
    QueryDef("q_filter_compare", (s, dir) => {
      // All six comparison ops + AND/OR/NOT composition (P5-P7).
      Tables.load(s, dir, "lineitem")
        .filter(((col("l_quantity") > 45) && (col("l_discount") <= 0.02))
          || (!(col("l_returnflag") =!= "R") && (col("l_tax") >= 0.07)
              && (col("l_linenumber") < 2)))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_discount"), col("l_returnflag"))
        // (l_orderkey, l_linenumber) is not unique in the synthetic data;
        // ordering by every projected column keeps the dump deterministic.
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_discount"), col("l_returnflag"))
    },
      """SELECT l_orderkey, l_linenumber, l_quantity, l_discount, l_returnflag
         FROM lineitem
         WHERE (l_quantity > 45 AND l_discount <= 0.02)
            OR (NOT (l_returnflag <> 'R') AND l_tax >= 0.07 AND l_linenumber < 2)
         ORDER BY l_orderkey, l_linenumber, l_quantity, l_discount, l_returnflag"""),
    QueryDef("q_filter_in", (s, dir) => {
      // IN-list membership (P8); pushed to the parquet scan.
      Tables.load(s, dir, "orders")
        .filter(col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
        .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
        .orderBy(col("o_orderkey"))
    },
      """SELECT o_orderkey, o_orderpriority, o_totalprice FROM orders
         WHERE o_orderpriority IN ('1-URGENT', '2-HIGH') ORDER BY o_orderkey"""),
    QueryDef("q_filter_between", (s, dir) => {
      // Inclusive BETWEEN (P9).
      Tables.load(s, dir, "lineitem")
        .filter(col("l_quantity").between(10, 12))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
    },
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
         WHERE l_quantity BETWEEN 10 AND 12
         ORDER BY l_orderkey, l_linenumber, l_quantity"""),
    QueryDef("q_like", (s, dir) => {
      // The reference's 4 LIKE shapes (P10): %x% / x% / %x / exact.
      Tables.load(s, dir, "part")
        .filter(col("p_name").contains("gear") || col("p_name").startsWith("red")
          || col("p_brand").endsWith("3"))
        .select(col("p_partkey"), col("p_name"), col("p_brand"), col("p_type"))
        .orderBy(col("p_partkey"))
    },
      """SELECT p_partkey, p_name, p_brand, p_type FROM part
         WHERE p_name LIKE '%gear%' OR p_name LIKE 'red%' OR p_brand LIKE '%3'
         ORDER BY p_partkey"""),

    // ---- projection / sort / distinct / limit (SURVEY §2.2, §2.6) ----
    QueryDef("q_projection_alias", (s, dir) => {
      // Projection + AS alias (P1/P2).
      Tables.load(s, dir, "customer")
        .select(col("c_custkey").as("id"), col("c_name").as("name"),
          col("c_acctbal").as("balance"))
        .orderBy(col("id"))
    },
      """SELECT c_custkey AS id, c_name AS name, c_acctbal AS balance
         FROM customer ORDER BY id"""),
    QueryDef("q_distinct", (s, dir) => {
      // DISTINCT on the projected tuple (O5).
      Tables.load(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_linestatus"))
        .distinct()
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },
      """SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
         ORDER BY l_returnflag, l_linestatus"""),
    QueryDef("q_orderby_limit_offset", (s, dir) => {
      // ORDER BY + LIMIT + OFFSET on the non-aggregated path — the
      // reference computes but never applies them there (bug O4); we
      // implement standard semantics on both paths.
      Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .offset(10).limit(100)
    },
      """SELECT o_orderkey, o_totalprice FROM orders
         ORDER BY o_totalprice DESC, o_orderkey LIMIT 100 OFFSET 10"""),
    QueryDef("q_topk", (s, dir) => {
      // ORDER BY+LIMIT compiles to TakeOrderedAndProject: no global sort,
      // each partition keeps k rows then the driver merges — O(n) not
      // O(n log n), and no shuffle of the full table.
      Tables.load(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
        .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
        .limit(25)
    },
      """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
         ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 25"""),

    // ---- joins (SURVEY §2.3 — beyond-reference) ----
    QueryDef("q_join_broadcast", (s, dir) => {
      // Fact⋈dim with an explicit broadcast: no shuffle of orders at all.
      val o = Tables.load(s, dir, "orders")
      val c = Tables.load(s, dir, "customer")
      o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("revenue"))
        .orderBy(col("c_mktsegment"))
    },
      """SELECT c_mktsegment, COUNT(*) AS n_orders,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY c_mktsegment ORDER BY c_mktsegment"""),
    QueryDef("q_join_multi", (s, dir) => {
      // TPC-H Q5 shape: lineitem⋈orders shuffles once on orderkey; all
      // dimension joins broadcast. Revenue per nation.
      val li = Tables.load(s, dir, "lineitem")
      val o = Tables.load(s, dir, "orders")
      val c = Tables.load(s, dir, "customer")
      val n = Tables.load(s, dir, "nation")
      val r = Tables.load(s, dir, "region")
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(dsumExpr(dec(col("l_extendedprice")) * (lit(1).cast(DecimalType(18, 2)) - dec(col("l_discount")))).as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy(col("r_name"), col("n_name"))
    },
      """SELECT r_name, n_name,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
         COUNT(*) AS n_items
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY r_name, n_name ORDER BY r_name, n_name"""),
    QueryDef("q_semi_join", (s, dir) => {
      // EXISTS → left_semi: customer side never widens, orders deduped
      // implicitly by the semi join (no distinct needed).
      val c = Tables.load(s, dir, "customer")
      val o = Tables.load(s, dir, "orders")
        .filter(col("o_totalprice") > 400000)
      c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
    },
      """SELECT c_custkey, c_name FROM customer
         WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 400000)
         ORDER BY c_custkey"""),
    QueryDef("q_anti_join", (s, dir) => {
      // NOT EXISTS → left_anti.
      val c = Tables.load(s, dir, "customer")
      val o = Tables.load(s, dir, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
    },
      """SELECT c_custkey, c_name FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
         ORDER BY c_custkey"""),
    QueryDef("q_left_join", (s, dir) => {
      // LEFT OUTER join with null-aware count on the right side.
      val c = Tables.load(s, dir, "customer")
      val o = Tables.load(s, dir, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("n_orders"))
        .orderBy(col("c_custkey"))
    },
      """SELECT c_custkey, COUNT(o_orderkey) AS n_orders
         FROM customer LEFT JOIN orders ON o_custkey = c_custkey
         GROUP BY c_custkey ORDER BY c_custkey"""),

    // ---- set operations (SURVEY §2.7 — beyond-reference) ----
    QueryDef("q_union", (s, dir) => {
      val c = Tables.load(s, dir, "customer").select(col("c_nationkey").cast("int").as("nk"))
      val sup = Tables.load(s, dir, "supplier").select(col("s_nationkey").cast("int").as("nk"))
      c.union(sup).distinct().orderBy(col("nk"))
    },
      """SELECT nk FROM (
           SELECT CAST(c_nationkey AS INT) AS nk FROM customer
           UNION SELECT CAST(s_nationkey AS INT) AS nk FROM supplier)
         ORDER BY nk"""),
    QueryDef("q_intersect", (s, dir) => {
      val c = Tables.load(s, dir, "customer").select(col("c_nationkey").cast("int").as("nk"))
      val sup = Tables.load(s, dir, "supplier").select(col("s_nationkey").cast("int").as("nk"))
      c.intersect(sup).orderBy(col("nk"))
    },
      """SELECT nk FROM (
           SELECT CAST(c_nationkey AS INT) AS nk FROM customer
           INTERSECT SELECT CAST(s_nationkey AS INT) AS nk FROM supplier)
         ORDER BY nk"""),
    QueryDef("q_except", (s, dir) => {
      val n = Tables.load(s, dir, "nation").select(col("n_nationkey").cast("int").as("nk"))
      val sup = Tables.load(s, dir, "supplier").select(col("s_nationkey").cast("int").as("nk"))
      n.except(sup).orderBy(col("nk"))
    },
      """SELECT nk FROM (
           SELECT CAST(n_nationkey AS INT) AS nk FROM nation
           EXCEPT SELECT CAST(s_nationkey AS INT) AS nk FROM supplier)
         ORDER BY nk"""),

    // ---- window functions (SURVEY §2.5 — beyond-reference) ----
    QueryDef("q_window_rank", (s, dir) => {
      // Top-3 orders per priority: rank + filter; single shuffle on the
      // partition key.
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      Tables.load(s, dir, "orders")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("o_orderpriority"), col("rn"), col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_orderpriority"), col("rn"))
    },
      """SELECT o_orderpriority, rn, o_orderkey, o_totalprice FROM (
           SELECT o_orderpriority, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_orderpriority
               ORDER BY o_totalprice DESC, o_orderkey) AS rn
           FROM orders)
         WHERE rn <= 3 ORDER BY o_orderpriority, rn"""),
    QueryDef("q_window_running", (s, dir) => {
      // Running sum within a partition (frame: unbounded preceding..current).
      // Window order must be total within the partition or the running
      // sum itself is nondeterministic: (l_orderkey, l_linenumber) has
      // duplicates, so extend with (l_partkey, l_suppkey).
      val w = Window.partitionBy(col("l_orderkey"))
        .orderBy(col("l_linenumber"), col("l_partkey"), col("l_suppkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.load(s, dir, "lineitem")
        .filter(col("l_orderkey") <= 200)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"), col("l_suppkey"),
          sum(col("l_quantity")).over(w).as("running_qty"))
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_partkey"), col("l_suppkey"))
    },
      """SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
         SUM(l_quantity) OVER (PARTITION BY l_orderkey
           ORDER BY l_linenumber, l_partkey, l_suppkey
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_qty
         FROM lineitem WHERE l_orderkey <= 200
         ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey"""),
    QueryDef("q_window_lag", (s, dir) => {
      // lag/lead across a customer's order history.
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      Tables.load(s, dir, "orders")
        .filter(col("o_custkey") <= 100)
        .select(col("o_custkey"), col("o_orderkey"),
          lag(col("o_totalprice"), 1).over(w).as("prev_price"),
          lead(col("o_totalprice"), 1).over(w).as("next_price"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    },
      """SELECT o_custkey, o_orderkey,
         LAG(o_totalprice, 1) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev_price,
         LEAD(o_totalprice, 1) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS next_price
         FROM orders WHERE o_custkey <= 100
         ORDER BY o_custkey, o_orderkey"""),

    // ---- scalar functions (SURVEY §2.8 — beyond-reference) ----
    QueryDef("q_scalar_string", (s, dir) => {
      Tables.load(s, dir, "nation")
        .select(col("n_nationkey").cast("int").as("nk"),
          upper(col("n_name")).as("up"),
          lower(col("n_name")).as("lo"),
          substring(col("n_name"), 1, 3).as("pre"),
          length(col("n_name")).cast("long").as("len"),
          concat(col("n_name"), lit("_"), col("n_nationkey").cast("string")).as("tagged"),
          regexp_replace(col("n_name"), "a", "@").as("subst"))
        .orderBy(col("nk"))
    },
      """SELECT CAST(n_nationkey AS INT) AS nk, UPPER(n_name) AS up,
         LOWER(n_name) AS lo, SUBSTRING(n_name, 1, 3) AS pre,
         CAST(LENGTH(n_name) AS BIGINT) AS len,
         n_name || '_' || CAST(n_nationkey AS VARCHAR) AS tagged,
         REGEXP_REPLACE(n_name, 'a', '@', 'g') AS subst
         FROM nation ORDER BY nk"""),
    QueryDef("q_scalar_math", (s, dir) => {
      Tables.load(s, dir, "part")
        .select(col("p_partkey"),
          abs(col("p_retailprice") - 1000.0).as("dev"),
          floor(col("p_retailprice")).as("fl"),
          ceil(col("p_retailprice")).as("ce"),
          (col("p_partkey") % 7).as("m7"),
          sqrt(col("p_size").cast("double")).as("rt"))
        .orderBy(col("p_partkey"))
    },
      """SELECT p_partkey, ABS(p_retailprice - 1000.0) AS dev,
         CAST(FLOOR(p_retailprice) AS BIGINT) AS fl,
         CAST(CEIL(p_retailprice) AS BIGINT) AS ce,
         p_partkey % 7 AS m7, SQRT(CAST(p_size AS DOUBLE)) AS rt
         FROM part ORDER BY p_partkey"""),
    QueryDef("q_scalar_date", (s, dir) => {
      Tables.load(s, dir, "orders")
        .select(col("o_orderkey"),
          year(col("o_orderdate")).cast("long").as("y"),
          month(col("o_orderdate")).cast("long").as("m"),
          dayofmonth(col("o_orderdate")).cast("long").as("d"),
          date_trunc("month", col("o_orderdate")).cast("date").as("month_start"))
        .orderBy(col("o_orderkey"))
    },
      """SELECT o_orderkey, CAST(YEAR(o_orderdate) AS BIGINT) AS y,
         CAST(MONTH(o_orderdate) AS BIGINT) AS m,
         CAST(DAY(o_orderdate) AS BIGINT) AS d,
         CAST(DATE_TRUNC('month', o_orderdate) AS DATE) AS month_start
         FROM orders ORDER BY o_orderkey"""),
    QueryDef("q_case_when", (s, dir) => {
      Tables.load(s, dir, "orders")
        .select(col("o_orderkey"),
          when(col("o_totalprice") > 300000, "high")
            .when(col("o_totalprice") > 100000, "mid")
            .otherwise("low").as("tier"))
        .orderBy(col("o_orderkey"))
    },
      """SELECT o_orderkey,
         CASE WHEN o_totalprice > 300000 THEN 'high'
              WHEN o_totalprice > 100000 THEN 'mid'
              ELSE 'low' END AS tier
         FROM orders ORDER BY o_orderkey"""),

    // ---- grouping sets (beyond-reference, SURVEY §2.4 note) ----
    QueryDef("q_rollup", (s, dir) => {
      // subtotal rows carry NULL group keys; both engines order them
      // explicitly NULLS LAST for a deterministic dump
      Tables.load(s, dir, "orders")
        .rollup(col("o_orderpriority"), col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("revenue"))
        .orderBy(col("o_orderpriority").asc_nulls_last, col("o_orderstatus").asc_nulls_last)
    },
      """SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
         FROM orders GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
         ORDER BY o_orderpriority NULLS LAST, o_orderstatus NULLS LAST"""),
    QueryDef("q_cube", (s, dir) => {
      Tables.load(s, dir, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("qty"))
        .orderBy(col("l_returnflag").asc_nulls_last, col("l_linestatus").asc_nulls_last)
    },
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n, SUM(l_quantity) AS qty
         FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
         ORDER BY l_returnflag NULLS LAST, l_linestatus NULLS LAST"""),

    // ---- events (time-series shape; batch view of §2.10) ----
    QueryDef("q_events_agg", (s, dir) => {
      Tables.load(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("total_value"))
        .orderBy(col("event_type"))
    },
      """SELECT event_type, COUNT(*) AS n,
         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
         FROM events GROUP BY event_type ORDER BY event_type"""),

    /* Composed operators: the end-to-end corpus-prep pipeline and sketch
     * aggregates. The pipeline is oracle-checked END TO END (r6 verdict
     * item 2): near-dedup drops on exact Jaccard over LSH candidates, so
     * every stage is a deterministic function DuckDB recomputes; a
     * planted corpus makes every stage non-vacuous. The sketch query
     * ships a bounded-error oracle — DuckDB recomputes the exact counts
     * and the within-bound boolean.
     */
    QueryDef("q_asof_join", (s, dir) => {
      // each purchase gets the user's most recent prior error event;
      // single shuffle on user_id (window composition), verified against
      // DuckDB's native ASOF JOIN.
      val events = Tables.load(s, dir, "events")
      val purchases = events.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("ts"), col("user_id"), col("value"))
      val errors = events.filter(col("event_type") === "error")
        .select(col("event_id"), col("ts"), col("user_id"))
      Joins.asofJoinBackward(purchases, errors, "user_id", "ts", Seq("event_id"))
        .orderBy(col("event_id"))
    },
      """SELECT l.event_id, l.ts, l.user_id, l.value, r.event_id AS asof_event_id
         FROM (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, value
               FROM events WHERE event_type = 'purchase') l
         ASOF LEFT JOIN (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id
               FROM events WHERE event_type = 'error') r
           ON l.user_id = r.user_id AND l.ts >= r.ts
         ORDER BY l.event_id"""),
    QueryDef("q_range_join", (s, dir) => {
      // orders priced within ±500 of each part's retail price; binned
      // equi-join instead of an O(n·m) nested loop.
      val parts = Tables.load(s, dir, "part")
        .select(col("p_partkey"), (col("p_retailprice") - 500).as("lo"),
          (col("p_retailprice") + 500).as("hi"))
      val orders = Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"))
      Joins.pointInRangeJoin(orders, parts, "o_totalprice", "lo", "hi", binWidth = 1000)
        .groupBy(col("p_partkey"))
        .agg(count(lit(1)).as("n_orders"))
        .orderBy(col("p_partkey"))
    },
      """SELECT p_partkey, COUNT(*) AS n_orders
         FROM part JOIN orders
           ON o_totalprice >= p_retailprice - 500 AND o_totalprice <= p_retailprice + 500
         GROUP BY p_partkey ORDER BY p_partkey"""),

    /* Relational surface extensions: pivot/unpivot, correlated
     * subqueries, grouping sets with GROUPING(), ntile/first/last/nth
     * windows, exact percentiles, moment statistics, full-outer join,
     * latest-row-per-key, JSON extraction, date arithmetic, and the
     * hash-checked language-ID + quality oracle (since r6,
     * q_text_lang_quality itself is also fully oracle-checked).
     *
     * Oracle-parity rules as above: money sums through
     * DECIMAL(18,2) then DOUBLE; averages as exact-decimal-sum / count;
     * interpolated/moment statistics rounded (4-6 dp) on BOTH sides; int
     * outputs cast to BIGINT on both sides; every query ends in a total
     * ORDER BY; DuckDB ORDER BY gets explicit NULLS FIRST where a sort
     * key is nullable (Spark's ASC default) — DuckDB defaults NULLS LAST.
     */
    // ---- pivot / unpivot ----
    QueryDef("q_pivot", (s, dir) => {
      // explicit value list => no extra distinct-values job, and the
      // output schema is plan-time stable (required on a 100 TB input
      // where an implicit pivot would scan once just to learn columns)
      Tables.load(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(dsum(col("o_totalprice")))
        .orderBy(col("o_orderpriority"))
    },
      """SELECT o_orderpriority,
           CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS "F",
           CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS "O",
           CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS "P"
         FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"""),
    QueryDef("q_unpivot", (s, dir) => {
      Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice").cast("double").as("o_totalprice"),
          col("o_custkey").cast("double").as("o_custkey"))
        .unpivot(Array(col("o_orderkey")),
          Array(col("o_totalprice"), col("o_custkey")), "metric", "value")
        .orderBy(col("o_orderkey"), col("metric"))
    },
      """SELECT o_orderkey, 'o_totalprice' AS metric, o_totalprice AS value FROM orders
         UNION ALL
         SELECT o_orderkey, 'o_custkey' AS metric, CAST(o_custkey AS DOUBLE) AS value FROM orders
         ORDER BY o_orderkey, metric"""),

    // ---- subqueries ----
    QueryDef("q_scalar_subquery", (s, dir) => {
      Tables.load(s, dir, "customer").createOrReplaceTempView("gx_ssq_customer")
      Tables.load(s, dir, "orders").createOrReplaceTempView("gx_ssq_orders")
      // correlated scalar subqueries; Catalyst rewrites both to one
      // left-outer aggregate join on o_custkey (no per-row re-scan)
      s.sql("""SELECT c_custkey,
           (SELECT COUNT(*) FROM gx_ssq_orders o WHERE o.o_custkey = c.c_custkey) AS n_orders,
           (SELECT CAST(MAX(o_totalprice) AS DOUBLE) FROM gx_ssq_orders o
             WHERE o.o_custkey = c.c_custkey) AS max_price
         FROM gx_ssq_customer c ORDER BY c_custkey""")
    },
      """SELECT c_custkey,
           (SELECT COUNT(*) FROM orders o WHERE o.o_custkey = c.c_custkey) AS n_orders,
           (SELECT CAST(MAX(o_totalprice) AS DOUBLE) FROM orders o
             WHERE o.o_custkey = c.c_custkey) AS max_price
         FROM customer c ORDER BY c_custkey"""),
    QueryDef("q_not_exists", (s, dir) => {
      Tables.load(s, dir, "customer").createOrReplaceTempView("gx_ne_customer")
      Tables.load(s, dir, "orders").createOrReplaceTempView("gx_ne_orders")
      // correlated NOT EXISTS with an extra inequality => null-aware
      // anti join, single shuffle on the correlation key
      s.sql("""SELECT c_custkey, c_name FROM gx_ne_customer c
         WHERE NOT EXISTS (SELECT 1 FROM gx_ne_orders o
           WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
         ORDER BY c_custkey""")
    },
      """SELECT c_custkey, c_name FROM customer c
         WHERE NOT EXISTS (SELECT 1 FROM orders o
           WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
         ORDER BY c_custkey"""),

    // ---- grouping sets ----
    QueryDef("q_grouping_sets", (s, dir) => {
      Tables.load(s, dir, "orders").createOrReplaceTempView("gx_gs_orders")
      s.sql("""SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
           CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_status,
           CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_prio
         FROM gx_gs_orders
         GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
         ORDER BY g_status, g_prio, o_orderstatus, o_orderpriority""")
    },
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
           CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_status,
           CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_prio
         FROM orders
         GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
         ORDER BY g_status, g_prio, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST"""),

    // ---- windows: ntile / first / last / nth ----
    QueryDef("q_window_ntile", (s, dir) => {
      // window ORDER BY includes the unique o_orderkey so ntile's bucket
      // assignment is total-order deterministic (ties on date alone
      // would make the result run-dependent)
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      val full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"),
          ntile(4).over(w).cast("long").as("quartile"),
          first(col("o_totalprice")).over(full).as("first_price"),
          last(col("o_totalprice")).over(full).as("last_price"),
          nth_value(col("o_totalprice"), 2).over(full).as("second_price"))
        .orderBy(col("o_orderkey"))
    },
      """SELECT o_orderkey, o_orderpriority,
           CAST(NTILE(4) OVER w AS BIGINT) AS quartile,
           FIRST_VALUE(o_totalprice) OVER wf AS first_price,
           LAST_VALUE(o_totalprice) OVER wf AS last_price,
           NTH_VALUE(o_totalprice, 2) OVER wf AS second_price
         FROM orders
         WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_orderdate, o_orderkey),
           wf AS (PARTITION BY o_orderpriority ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
         ORDER BY o_orderkey"""),

    // ---- exact percentiles / moment statistics ----
    QueryDef("q_percentiles", (s, dir) => {
      Tables.load(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(
          round(expr("percentile(o_totalprice, 0.25)"), 4).as("p25"),
          round(expr("percentile(o_totalprice, 0.5)"), 4).as("p50"),
          round(expr("percentile(o_totalprice, 0.9)"), 4).as("p90"))
        .orderBy(col("o_orderpriority"))
    },
      """SELECT o_orderpriority,
           ROUND(quantile_cont(o_totalprice, 0.25), 4) AS p25,
           ROUND(quantile_cont(o_totalprice, 0.5), 4) AS p50,
           ROUND(quantile_cont(o_totalprice, 0.9), 4) AS p90
         FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"""),
    QueryDef("q_stats_agg", (s, dir) => {
      val k = get_json_object(col("props"), "$.k").cast("double")
      Tables.load(s, dir, "events")
        .select(col("event_type"), col("value"), k.as("k"))
        .groupBy(col("event_type"))
        .agg(
          round(stddev_samp(col("value")), 4).as("sd_value"),
          round(var_samp(col("value")), 4).as("var_value"),
          round(covar_samp(col("value"), col("k")), 4).as("cov_vk"),
          round(corr(col("value"), col("k")), 4).as("corr_vk"))
        .orderBy(col("event_type"))
    },
      """SELECT event_type,
           ROUND(stddev_samp(value), 4) AS sd_value,
           ROUND(var_samp(value), 4) AS var_value,
           ROUND(covar_samp(value, CAST(json_extract_string(props, '$.k') AS DOUBLE)), 4) AS cov_vk,
           ROUND(corr(value, CAST(json_extract_string(props, '$.k') AS DOUBLE)), 4) AS corr_vk
         FROM events GROUP BY event_type ORDER BY event_type"""),

    // ---- full outer join ----
    QueryDef("q_full_outer_join", (s, dir) => {
      val cust = Tables.load(s, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING")
        .groupBy(col("c_nationkey").cast("long").as("nationkey"))
        .agg(count(lit(1)).as("n_cust"))
      val supp = Tables.load(s, dir, "supplier")
        .groupBy(col("s_nationkey").cast("long").as("nationkey"))
        .agg(count(lit(1)).as("n_supp"))
      cust.join(supp, Seq("nationkey"), "full_outer")
        .select(col("nationkey"),
          coalesce(col("n_cust"), lit(0L)).as("n_cust"),
          coalesce(col("n_supp"), lit(0L)).as("n_supp"))
        .orderBy(col("nationkey"))
    },
      """SELECT COALESCE(c.nationkey, s.nationkey) AS nationkey,
           COALESCE(n_cust, 0) AS n_cust, COALESCE(n_supp, 0) AS n_supp
         FROM (SELECT CAST(c_nationkey AS BIGINT) AS nationkey, COUNT(*) AS n_cust
               FROM customer WHERE c_mktsegment = 'BUILDING' GROUP BY 1) c
         FULL OUTER JOIN (SELECT CAST(s_nationkey AS BIGINT) AS nationkey, COUNT(*) AS n_supp
               FROM supplier GROUP BY 1) s USING (nationkey)
         ORDER BY nationkey"""),

    // ---- latest row per key (the QUALIFY pattern) ----
    QueryDef("q_latest_event", (s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").desc, col("event_id").desc)
      Tables.load(s, dir, "events")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
        .orderBy(col("user_id"))
    },
      """SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, event_type
         FROM events
         QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id
           ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) = 1
         ORDER BY user_id"""),

    // ---- JSON extraction ----
    QueryDef("q_json_extract", (s, dir) => {
      // try_cast: a non-numeric $.k becomes null instead of an ANSI
      // crash (dirty-string rule; oracle mirrors with TRY_CAST)
      val k = get_json_object(col("props"), "$.k").try_cast("long")
      Tables.load(s, dir, "events")
        .select(col("event_type"), k.as("k"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"), max(col("k")).as("max_k"))
        .orderBy(col("event_type"))
    },
      """SELECT event_type, COUNT(*) AS n,
           CAST(SUM(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           MAX(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
         FROM events GROUP BY event_type ORDER BY event_type"""),

    // ---- date arithmetic ----
    QueryDef("q_date_arith", (s, dir) => {
      val d = col("o_orderdate").cast("date")
      Tables.load(s, dir, "orders")
        .select(col("o_orderkey"),
          date_add(d, 30).as("due_date"),
          datediff(lit("1998-12-31").cast("date"), d).cast("long").as("days_to_eoy"),
          quarter(d).cast("long").as("q"),
          (dayofweek(d) - 1).cast("long").as("dow")) // 0=Sunday on both sides
        .orderBy(col("o_orderkey"))
    },
      """SELECT o_orderkey,
           CAST(o_orderdate AS DATE) + 30 AS due_date,
           CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '1998-12-31') AS BIGINT) AS days_to_eoy,
           CAST(QUARTER(o_orderdate) AS BIGINT) AS q,
           CAST(dayofweek(CAST(o_orderdate AS DATE)) AS BIGINT) AS dow
         FROM orders ORDER BY o_orderkey"""),

    // ---- distinct / conditional / string aggregates ----
    QueryDef("q_distinct_agg", (s, dir) => {
      // distinct aggs each add a shuffle-side dedup; keeping them in one
      // agg lets Spark expand to a single multi-phase plan
      Tables.load(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_suppkey")).as("n_supp"),
          countDistinct(col("l_partkey")).as("n_part"),
          sum_distinct(col("l_quantity").cast(DecimalType(18, 2)))
            .cast("double").as("sum_dq"))
        .orderBy(col("l_returnflag"))
    },
      """SELECT l_returnflag,
           COUNT(DISTINCT l_suppkey) AS n_supp,
           COUNT(DISTINCT l_partkey) AS n_part,
           CAST(SUM(DISTINCT CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_dq
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""),
    QueryDef("q_conditional_agg", (s, dir) => {
      Tables.load(s, dir, "orders")
        .groupBy(col("o_orderstatus"))
        .agg(count(when(col("o_totalprice") > 200000, 1)).as("n_big"),
          dsum(when(col("o_orderpriority") === "1-URGENT", col("o_totalprice")))
            .as("urgent_total"),
          count(lit(1)).as("n"))
        .orderBy(col("o_orderstatus"))
    },
      """SELECT o_orderstatus,
           COUNT(*) FILTER (WHERE o_totalprice > 200000) AS n_big,
           CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT'
             THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS urgent_total,
           COUNT(*) AS n
         FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"""),
    QueryDef("q_string_agg", (s, dir) => {
      // deterministic: sort the collected list before joining (matches
      // the oracle's string_agg ORDER BY)
      Tables.load(s, dir, "customer")
        .groupBy(col("c_nationkey").cast("long").as("nationkey"))
        .agg(concat_ws(",", array_sort(collect_list(col("c_name")))).as("names"),
          count(lit(1)).as("n"))
        .orderBy(col("nationkey"))
    },
      """SELECT CAST(c_nationkey AS BIGINT) AS nationkey,
           string_agg(c_name, ',' ORDER BY c_name) AS names,
           COUNT(*) AS n
         FROM customer GROUP BY 1 ORDER BY 1"""),

    // ---- time-range window frame ----
    QueryDef("q_window_range_time", (s, dir) => {
      // trailing-hour frame keyed on epoch seconds: RANGE frames need a
      // numeric sort key; peers (same second) are included on both sides
      val w = Window.partitionBy(col("user_id"))
        .orderBy(unix_timestamp(col("ts")))
        .rangeBetween(-3600, Window.currentRow)
      Tables.load(s, dir, "events")
        .select(col("user_id"), col("event_id"),
          count(lit(1)).over(w).as("n_1h"),
          round(sum(col("value")).over(w), 4).as("sum_1h"))
        .orderBy(col("user_id"), col("event_id"), col("n_1h"), col("sum_1h"))
    },
      """SELECT user_id, event_id,
           COUNT(*) OVER w AS n_1h,
           ROUND(SUM(value) OVER w, 4) AS sum_1h
         FROM events
         WINDOW w AS (PARTITION BY user_id
           ORDER BY CAST(FLOOR(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT)
           RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
         ORDER BY user_id, event_id, n_1h, sum_1h"""),

    // ---- ROWS-frame moving average ----
    QueryDef("q_window_moving_avg", (s, dir) => {
      // exact-decimal sum / count, divided in double on BOTH sides, so
      // the rounding is engine-independent
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(-3, Window.currentRow)
      Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"),
          round(sum(col("o_totalprice").cast(DecimalType(18, 2))).over(w)
            .cast("double") / count(lit(1)).over(w), 4).as("avg_4"))
        .orderBy(col("o_orderkey"), col("o_orderpriority"), col("avg_4"))
    },
      """SELECT o_orderkey, o_orderpriority,
           ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE)
             / (COUNT(*) OVER w), 4) AS avg_4
         FROM orders
         WINDOW w AS (PARTITION BY o_orderpriority
           ORDER BY o_orderdate, o_orderkey
           ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
         ORDER BY o_orderkey, o_orderpriority, avg_4"""),

    // ---- multiset difference ----
    QueryDef("q_except_all", (s, dir) => {
      // custkeys appearing more often among orders than customers —
      // bag semantics, unlike q_except's set semantics
      Tables.load(s, dir, "orders")
        .select(col("o_custkey").cast("long").as("custkey"))
        .exceptAll(Tables.load(s, dir, "customer")
          .select(col("c_custkey").cast("long").as("custkey")))
        .orderBy(col("custkey"))
    },
      """SELECT CAST(o_custkey AS BIGINT) AS custkey FROM orders
         EXCEPT ALL
         SELECT CAST(c_custkey AS BIGINT) FROM customer
         ORDER BY custkey"""),

    // ---- higher-order array functions ----
    QueryDef("q_array_hof", (s, dir) => {
      val toks = TextAnalysis.tokens(col("text"))
      Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          size(filter(toks, t => length(t) > 4)).cast("long").as("n_long"),
          aggregate(toks, lit(0L), (a, t) => a + length(t)).as("n_chars"),
          concat_ws(" ", slice(sort_array(toks), 1, 3)).as("first3_sorted"))
        .orderBy(col("doc_id"))
    },
      """WITH t AS (SELECT doc_id,
             string_split_regex(LOWER(TRIM(text)), '\s+') AS toks
           FROM documents)
         SELECT doc_id,
           CAST(len(list_filter(toks, t -> len(t) > 4)) AS BIGINT) AS n_long,
           CAST(list_sum(list_transform(toks, t -> len(t))) AS BIGINT) AS n_chars,
           array_to_string(list_sort(toks)[1:3], ' ') AS first3_sorted
         FROM t ORDER BY doc_id"""),

    /* TPC-H-shaped multi-join analytics (Q3/Q5/Q6
     * adapted to the synthetic schema), gaps-and-islands sessionization,
     * functional MERGE/upsert, regex extraction, cumulative-distribution
     * windows, a salted skew join checked against its plain-join oracle,
     * an md5-based train/test split that an independent engine can verify
     * row-for-row, multiset intersection, and a cross join.
     *
     * Oracle-parity rules as above: money math
     * through DECIMAL(18,2) then DOUBLE; identical IEEE expression trees
     * on both sides where a double survives unrounded; every row-dump
     * query ends in a total ORDER BY.
     */
    // ---- TPC-H Q3 shape: shipping-priority top-10 ----
    QueryDef("q_tpch_q3", (s, dir) => {
      // filters push to the parquet scans BEFORE the joins; the
      // customer dim (one segment) broadcasts, so the only shuffle is
      // lineitem⋈orders on orderkey — the minimum possible for this
      // query at any scale
      val cust = Tables.load(s, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
      val ord = Tables.load(s, dir, "orders")
        .filter(col("o_orderdate").cast("date") < lit("1997-06-01").cast("date"))
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
      val li = Tables.load(s, dir, "lineitem")
        .filter(col("l_shipdate").cast("date") > lit("1997-06-01").cast("date"))
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"))
        .agg(dsumExact(revenueTerm(col("l_extendedprice"), col("l_discount"))).as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .select(col("l_orderkey"), col("revenue"), col("o_orderdate"))
        .limit(10)
    },
      """SELECT l_orderkey,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
           o_orderdate
         FROM customer JOIN orders ON c_custkey = o_custkey
           JOIN lineitem ON l_orderkey = o_orderkey
         WHERE c_mktsegment = 'BUILDING'
           AND CAST(o_orderdate AS DATE) < DATE '1997-06-01'
           AND CAST(l_shipdate AS DATE) > DATE '1997-06-01'
         GROUP BY l_orderkey, o_orderdate
         ORDER BY revenue DESC, l_orderkey LIMIT 10"""),

    // ---- TPC-H Q5 shape: local-supplier volume per nation ----
    QueryDef("q_tpch_q5", (s, dir) => {
      // one fact shuffle (lineitem⋈orders); every dimension broadcasts,
      // including the region-filtered nation/supplier chain
      val region = Tables.load(s, dir, "region").filter(col("r_name") === "ASIA")
      val nation = Tables.load(s, dir, "nation")
        .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey"), col("n_name"))
      val supp = Tables.load(s, dir, "supplier")
        .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("s_nationkey"), col("n_name"))
      val cust = Tables.load(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey"))
      val ord = Tables.load(s, dir, "orders")
        .filter(col("o_orderdate").cast("date") >= lit("1996-01-01").cast("date") &&
          col("o_orderdate").cast("date") < lit("1997-01-01").cast("date"))
        .select(col("o_orderkey"), col("o_custkey"))
      val li = Tables.load(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"), col("l_extendedprice"), col("l_discount"))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .join(broadcast(supp),
          col("l_suppkey") === col("s_suppkey") && col("c_nationkey") === col("s_nationkey"))
        .groupBy(col("n_name"))
        .agg(dsumExact(revenueTerm(col("l_extendedprice"), col("l_discount"))).as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    },
      """SELECT n_name,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
         FROM customer, orders, lineitem, supplier, nation, region
         WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
           AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
           AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
           AND r_name = 'ASIA'
           AND CAST(o_orderdate AS DATE) >= DATE '1996-01-01'
           AND CAST(o_orderdate AS DATE) < DATE '1997-01-01'
         GROUP BY n_name ORDER BY revenue DESC, n_name"""),

    // ---- TPC-H Q6 shape: forecast-revenue global aggregate ----
    QueryDef("q_tpch_q6", (s, dir) => {
      // pure scan+filter+agg: all three predicates reach PushedFilters,
      // map-side partial agg collapses to one row — no shuffle of data,
      // only of partial sums
      Tables.load(s, dir, "lineitem")
        .filter(col("l_shipdate").cast("date") >= lit("1996-01-01").cast("date") &&
          col("l_shipdate").cast("date") < lit("1997-01-01").cast("date") &&
          col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
        .agg(sum(col("l_extendedprice").cast(DecimalType(18, 2)) *
            col("l_discount").cast(DecimalType(18, 2))).cast("double").as("revenue"),
          count(lit(1)).as("n_items"))
    },
      """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_items
         FROM lineitem
         WHERE CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
           AND CAST(l_shipdate AS DATE) < DATE '1997-01-01'
           AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24"""),

    // ---- functional MERGE / upsert ----
    QueryDef("q_merge_upsert", (s, dir) => {
      // MERGE expressed as full-outer join + coalesce: matched rows get
      // balance += spend, unmatched source rows insert as new customers
      // (one synthetic row keeps the insert branch non-empty). The
      // balance sum stays an unrounded double — both engines evaluate
      // the identical IEEE expression tree.
      val updates = Tables.load(s, dir, "orders")
        .groupBy(col("o_custkey").as("custkey"))
        .agg(dsum(col("o_totalprice")).as("spend"))
        .unionByName(s.range(1).select(
          lit(9999990001L).as("custkey"), lit(1234.56).as("spend")))
      Tables.load(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
        .join(updates, col("c_custkey") === col("custkey"), "full_outer")
        .select(coalesce(col("c_custkey"), col("custkey")).as("custkey"),
          coalesce(col("c_name"), lit("NEW")).as("name"),
          (coalesce(col("c_acctbal"), lit(0.0)) + coalesce(col("spend"), lit(0.0))).as("balance"))
        .orderBy(col("custkey"))
    },
      """WITH u AS (
           SELECT CAST(o_custkey AS BIGINT) AS custkey,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend
           FROM orders GROUP BY 1
           UNION ALL SELECT 9999990001, 1234.56)
         SELECT COALESCE(c_custkey, custkey) AS custkey,
           COALESCE(c_name, 'NEW') AS name,
           COALESCE(c_acctbal, 0.0) + COALESCE(spend, 0.0) AS balance
         FROM customer FULL OUTER JOIN u ON c_custkey = custkey
         ORDER BY custkey"""),

    // ---- regex extraction ----
    QueryDef("q_regex_extract", (s, dir) => {
      // '' (Spark's no-match result) normalized to NULL on both sides
      val firstNum = regexp_extract(col("text"), "([0-9]+)", 1)
      val firstCap = regexp_extract(col("text"), "\\b([A-Z][a-z]+)\\b", 1)
      Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          when(firstNum === "", lit(null)).otherwise(firstNum)
            .try_cast("long").as("first_num"),
          when(firstCap === "", lit(null)).otherwise(firstCap).as("first_cap"),
          length(regexp_replace(lower(col("text")), "[^aeiou]", ""))
            .cast("long").as("n_vowels"))
        .orderBy(col("doc_id"))
    },
      """SELECT doc_id,
           TRY_CAST(NULLIF(regexp_extract(text, '([0-9]+)', 1), '') AS BIGINT) AS first_num,
           NULLIF(regexp_extract(text, '\b([A-Z][a-z]+)\b', 1), '') AS first_cap,
           CAST(LENGTH(REGEXP_REPLACE(LOWER(text), '[^aeiou]', '', 'g')) AS BIGINT) AS n_vowels
         FROM documents ORDER BY doc_id"""),

    // ---- cumulative-distribution windows ----
    QueryDef("q_window_cume", (s, dir) => {
      // unique o_orderkey in the window ORDER BY makes ranks and the
      // lead() neighbor total-order deterministic
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"),
          round(percent_rank().over(w), 6).as("pr"),
          round(cume_dist().over(w), 6).as("cd"),
          lead(col("o_totalprice"), 1).over(w).as("next_price"))
        .orderBy(col("o_orderkey"))
    },
      """SELECT o_orderkey, o_orderpriority,
           ROUND(PERCENT_RANK() OVER w, 6) AS pr,
           ROUND(CUME_DIST() OVER w, 6) AS cd,
           LEAD(o_totalprice, 1) OVER w AS next_price
         FROM orders
         WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
         ORDER BY o_orderkey"""),

    // ---- salted skew join, checked against the plain-join oracle ----
    QueryDef("q_skew_salted", (s, dir) => {
      // the salt splits each hot custkey across 8 reducers; the oracle
      // is the UNsalted join — proving the rewrite changes the shuffle
      // layout, not the result
      val o = Tables.load(s, dir, "orders")
        .select(col("o_custkey").as("custkey"), col("o_totalprice"))
      val c = Tables.load(s, dir, "customer")
        .select(col("c_custkey").as("custkey"), col("c_mktsegment"))
      Skew.saltedJoin(o, c, "custkey", salts = 8)
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("revenue"))
        .orderBy(col("c_mktsegment"))
    },
      """SELECT c_mktsegment, COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY c_mktsegment ORDER BY c_mktsegment"""),

    // ---- multiset intersection ----
    QueryDef("q_intersect_all", (s, dir) => {
      // parts shipped in 1996 ∩ parts shipped in 1998, bag semantics:
      // a partkey appears min(n_1996, n_1998) times
      def shipped(year: String, next: String) =
        Tables.load(s, dir, "lineitem")
          .filter(col("l_shipdate").cast("date") >= lit(s"$year-01-01").cast("date") &&
            col("l_shipdate").cast("date") < lit(s"$next-01-01").cast("date"))
          .select(col("l_partkey").cast("long").as("partkey"))
      shipped("1996", "1997").intersectAll(shipped("1998", "1999"))
        .orderBy(col("partkey"))
    },
      """SELECT partkey FROM (
           SELECT CAST(l_partkey AS BIGINT) AS partkey FROM lineitem
           WHERE CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
             AND CAST(l_shipdate AS DATE) < DATE '1997-01-01'
           INTERSECT ALL
           SELECT CAST(l_partkey AS BIGINT) AS partkey FROM lineitem
           WHERE CAST(l_shipdate AS DATE) >= DATE '1998-01-01'
             AND CAST(l_shipdate AS DATE) < DATE '1999-01-01')
         ORDER BY partkey"""),

    // ---- cross join ----
    QueryDef("q_cross_join", (s, dir) => {
      // both sides tiny; Spark plans BroadcastNestedLoopJoin — the only
      // safe cross-join shape at scale (never cross-join two facts)
      Tables.load(s, dir, "region").select(col("r_name"))
        .crossJoin(Tables.load(s, dir, "nation").select(col("n_name")))
        .orderBy(col("r_name"), col("n_name"))
    },
      """SELECT r_name, n_name FROM region CROSS JOIN nation
         ORDER BY r_name, n_name"""),

    // ---- calendar gap-fill (series generation + left join) ----
    QueryDef("q_date_fill", (s, dir) => {
      // every day in the order date range, zero-filled: the generated
      // calendar is one row per day (tiny at any SF) and broadcasts
      // against the aggregated counts
      val o = Tables.load(s, dir, "orders")
      val daily = o.groupBy(to_date(col("o_orderdate")).as("d"))
        .agg(count(lit(1)).as("n_orders"))
      val cal = o.agg(to_date(min(col("o_orderdate"))).as("lo"),
          to_date(max(col("o_orderdate"))).as("hi"))
        .select(explode(sequence(col("lo"), col("hi"), expr("INTERVAL 1 DAY"))).as("d"))
      cal.join(daily, Seq("d"), "left")
        .select(col("d"), coalesce(col("n_orders"), lit(0L)).as("n_orders"))
        .orderBy(col("d"))
    },
      """WITH bounds AS (
           SELECT CAST(MIN(o_orderdate) AS DATE) AS lo,
             CAST(MAX(o_orderdate) AS DATE) AS hi
           FROM orders),
         cal AS (
           SELECT CAST(UNNEST(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS d
           FROM bounds),
         daily AS (
           SELECT CAST(o_orderdate AS DATE) AS d, COUNT(*) AS n_orders
           FROM orders GROUP BY 1)
         SELECT cal.d, COALESCE(n_orders, 0) AS n_orders
         FROM cal LEFT JOIN daily USING (d)
         ORDER BY d"""),

    // ---- equi-width histogram ----
    QueryDef("q_histogram", (s, dir) => {
      Tables.load(s, dir, "orders")
        .groupBy(floor(col("o_totalprice") / 50000).cast("long").as("bucket"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("bucket"))
    },
      """SELECT CAST(FLOOR(o_totalprice / 50000) AS BIGINT) AS bucket, COUNT(*) AS n
         FROM orders GROUP BY 1 ORDER BY bucket"""),

    // ---- null-safe equality join ----
    QueryDef("q_null_safe_join", (s, dir) => {
      // <=> (IS NOT DISTINCT FROM) joins NULL keys to NULL keys — a
      // plain equi-join would silently drop every below-threshold order
      // from the result; the NULL dim row collects them instead
      val o = Tables.load(s, dir, "orders")
        .select(when(col("o_totalprice") > 300000, col("o_orderpriority"))
          .as("prio_hi"))
      val dim = Tables.load(s, dir, "orders")
        .select(col("o_orderpriority").as("p")).distinct()
        .unionByName(s.range(1).select(lit(null).cast("string").as("p")))
      o.join(dim, col("prio_hi") <=> col("p"))
        .groupBy(col("p")).agg(count(lit(1)).as("n"))
        .orderBy(col("p"))
    },
      """WITH o AS (
           SELECT CASE WHEN o_totalprice > 300000 THEN o_orderpriority END AS prio_hi
           FROM orders),
         dim AS (
           SELECT DISTINCT o_orderpriority AS p FROM orders
           UNION ALL SELECT NULL)
         SELECT p, COUNT(*) AS n
         FROM o JOIN dim ON prio_hi IS NOT DISTINCT FROM p
         GROUP BY p ORDER BY p NULLS FIRST"""),

    // ---- boolean / bitwise aggregates ----
    QueryDef("q_bool_bit_agg", (s, dir) => {
      Tables.load(s, dir, "orders")
        .groupBy(col("o_orderstatus"))
        .agg(bool_and(col("o_totalprice") > 1000).as("all_over_1k"),
          bool_or(col("o_totalprice") > 400000).as("any_over_400k"),
          bit_and(col("o_orderkey")).as("key_and"),
          bit_or(col("o_orderkey")).as("key_or"),
          bit_xor(col("o_orderkey")).as("key_xor"))
        .orderBy(col("o_orderstatus"))
    },
      """SELECT o_orderstatus,
           bool_and(o_totalprice > 1000) AS all_over_1k,
           bool_or(o_totalprice > 400000) AS any_over_400k,
           bit_and(o_orderkey) AS key_and,
           bit_or(o_orderkey) AS key_or,
           bit_xor(o_orderkey) AS key_xor
         FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"""),

    // ---- discrete percentiles (actual data values, no interpolation) ----
    QueryDef("q_percentile_disc", (s, dir) => {
      Tables.load(s, dir, "orders").createOrReplaceTempView("g3_pd_orders")
      s.sql("""SELECT o_orderpriority,
           percentile_disc(0.25) WITHIN GROUP (ORDER BY o_totalprice) AS p25,
           percentile_disc(0.5)  WITHIN GROUP (ORDER BY o_totalprice) AS p50,
           percentile_disc(0.9)  WITHIN GROUP (ORDER BY o_totalprice) AS p90
         FROM g3_pd_orders GROUP BY o_orderpriority ORDER BY o_orderpriority""")
    },
      """SELECT o_orderpriority,
           quantile_disc(o_totalprice, 0.25) AS p25,
           quantile_disc(o_totalprice, 0.5)  AS p50,
           quantile_disc(o_totalprice, 0.9)  AS p90
         FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"""),

    // ---- linear-regression aggregates ----
    QueryDef("q_regr", (s, dir) => {
      Tables.load(s, dir, "orders")
        .groupBy(col("o_orderstatus"))
        .agg(round(regr_slope(col("o_totalprice"), col("o_custkey")), 6).as("slope"),
          round(regr_intercept(col("o_totalprice"), col("o_custkey")), 6).as("intercept"),
          round(regr_r2(col("o_totalprice"), col("o_custkey")), 6).as("r2"),
          regr_count(col("o_totalprice"), col("o_custkey")).as("n"))
        .orderBy(col("o_orderstatus"))
    },
      """SELECT o_orderstatus,
           ROUND(regr_slope(o_totalprice, o_custkey), 6) AS slope,
           ROUND(regr_intercept(o_totalprice, o_custkey), 6) AS intercept,
           ROUND(regr_r2(o_totalprice, o_custkey), 6) AS r2,
           CAST(regr_count(o_totalprice, o_custkey) AS BIGINT) AS n
         FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"""),

    /* Near-duplicate CLUSTERS (connected components
     * over the pair graph, oracled with a recursive CTE), grouped top-k,
     * window-based heavy hitters, deterministic stratified sampling,
     * bigram PMI collocations, TPC-H Q12/Q14/Q18 shapes, per-group
     * z-score anomalies, interval-overlap concurrency, and hashing-trick
     * feature buckets.
     *
     * Oracle-parity rules follow the earlier packs: money math through
     * DECIMAL(18,2) then DOUBLE, identical IEEE expression trees on both
     * sides, md5 for anything an independent engine must recompute, and a
     * total ORDER BY on every row dump.
     */
    // ---- grouped top-k ----
    QueryDef("q_group_topk", (s, dir) => {
      // top-3 revenue parts per return flag: aggregate then rank inside
      // the group — two shuffles total (agg key, then window key, and
      // the window key is a prefix of the agg key so AQE can often
      // avoid the second exchange entirely)
      val w = Window.partitionBy(col("l_returnflag"))
        .orderBy(col("revenue").desc, col("l_partkey"))
      // loadSpread (r16): the exact-decimal revenue partial agg is
      // CPU-bound on a 3-split scan (1.1 s); decimal sums commute so
      // the spread changes nothing but parallelism
      Tables.loadSpread(s, dir, "lineitem", "l_orderkey")
        .groupBy(col("l_returnflag"), col("l_partkey"))
        .agg(dsumExact(revenueTerm(col("l_extendedprice"), col("l_discount"))).as("revenue"))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 3)
        .select(col("l_returnflag"), col("rnk"), col("l_partkey"), col("revenue"))
        .orderBy(col("l_returnflag"), col("rnk"))
    },
      """SELECT l_returnflag, rnk, l_partkey, revenue FROM (
           SELECT l_returnflag, l_partkey, revenue,
             ROW_NUMBER() OVER (PARTITION BY l_returnflag
               ORDER BY revenue DESC, l_partkey) AS rnk
           FROM (
             SELECT l_returnflag, l_partkey,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
             FROM lineitem GROUP BY 1, 2))
         WHERE rnk <= 3 ORDER BY l_returnflag, rnk"""),

    // ---- TPC-H Q12 shape: priority counts by return flag ----
    QueryDef("q_tpch_q12", (s, dir) => {
      // shipdate predicate pushes to the lineitem scan before the join;
      // conditional sums replace two separate filtered aggregates
      val ord = Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"))
      Tables.load(s, dir, "lineitem")
        .filter(col("l_shipdate").cast("date") >= lit("1997-01-01").cast("date") &&
          col("l_shipdate").cast("date") < lit("1998-01-01").cast("date"))
        .select(col("l_orderkey"), col("l_returnflag"))
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_returnflag"))
        .agg(sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
            .otherwise(0L)).as("high_count"),
          sum(when(!col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
            .otherwise(0L)).as("low_count"))
        .orderBy(col("l_returnflag"))
    },
      """SELECT l_returnflag,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_count
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         WHERE CAST(l_shipdate AS DATE) >= DATE '1997-01-01'
           AND CAST(l_shipdate AS DATE) < DATE '1998-01-01'
         GROUP BY l_returnflag ORDER BY l_returnflag"""),

    // ---- TPC-H Q14 shape: promo revenue share ----
    QueryDef("q_tpch_q14", (s, dir) => {
      // one month of lineitem against the broadcast part dim; both sums
      // accumulate exact decimals, the percentage division is the only
      // floating-point step
      val p = Tables.load(s, dir, "part").select(col("p_partkey"), col("p_type"))
      val term = revenueTerm(col("l_extendedprice"), col("l_discount"))
      Tables.load(s, dir, "lineitem")
        .filter(col("l_shipdate").cast("date") >= lit("1997-09-01").cast("date") &&
          col("l_shipdate").cast("date") < lit("1997-10-01").cast("date"))
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .agg(round(lit(100.0) *
          sum(when(col("p_type") === "PROMO", term)).cast("double") /
          dsumExact(term), 6).as("promo_pct"))
    },
      """SELECT ROUND(100.0 *
           CAST(SUM(CASE WHEN p_type = 'PROMO'
             THEN CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))) END) AS DOUBLE) /
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE), 6) AS promo_pct
         FROM lineitem JOIN part ON l_partkey = p_partkey
         WHERE CAST(l_shipdate AS DATE) >= DATE '1997-09-01'
           AND CAST(l_shipdate AS DATE) < DATE '1997-10-01'"""),

    // ---- TPC-H Q18 shape: large-volume orders ----
    QueryDef("q_tpch_q18", (s, dir) => {
      // the HAVING aggregate runs first and survives as a tiny frame;
      // orders join it, the customer dim broadcasts — no fact×fact
      // shuffle beyond the one lineitem aggregation
      val qty = Tables.load(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(sum(col("l_quantity").cast(DecimalType(18, 2))).as("qty_d"))
        .filter(col("qty_d") > 150)
        .select(col("l_orderkey"), col("qty_d").cast("double").as("sum_qty"))
      val cust = Tables.load(s, dir, "customer").select(col("c_custkey"), col("c_name"))
      Tables.load(s, dir, "orders")
        .join(qty, col("o_orderkey") === col("l_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
          col("o_orderdate"), col("o_totalprice"), col("sum_qty"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(100)
    },
      """WITH qty AS (
           SELECT l_orderkey,
             SUM(CAST(l_quantity AS DECIMAL(18,2))) AS qty_d
           FROM lineitem GROUP BY 1
           HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 150)
         SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
           CAST(qty_d AS DOUBLE) AS sum_qty
         FROM orders JOIN qty ON o_orderkey = l_orderkey
           JOIN customer ON o_custkey = c_custkey
         ORDER BY o_totalprice DESC, o_orderkey LIMIT 100"""),

    // ---- TPC-H Q10 shape: returned-item revenue by customer ----
    QueryDef("q_tpch_q10", (s, dir) => {
      // returnflag + orderdate predicates push to the scans; customer
      // and nation broadcast; the only shuffle is lineitem⋈orders
      val cust = Tables.load(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"), col("c_nationkey"))
      val nat = Tables.load(s, dir, "nation")
        .select(col("n_nationkey"), col("n_name"))
      val ord = Tables.load(s, dir, "orders")
        .filter(col("o_orderdate").cast("date") >= lit("1997-01-01").cast("date") &&
          col("o_orderdate").cast("date") < lit("1997-04-01").cast("date"))
        .select(col("o_orderkey"), col("o_custkey"))
      Tables.load(s, dir, "lineitem")
        .filter(col("l_returnflag") === "R")
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name"))
        .agg(dsumExact(revenueTerm(col("l_extendedprice"), col("l_discount"))).as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .select(col("c_custkey"), col("c_name"), col("revenue"),
          col("c_acctbal"), col("n_name"))
        .limit(20)
    },
      """SELECT c_custkey, c_name,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
           c_acctbal, n_name
         FROM customer JOIN orders ON c_custkey = o_custkey
           JOIN lineitem ON l_orderkey = o_orderkey
           JOIN nation ON c_nationkey = n_nationkey
         WHERE CAST(o_orderdate AS DATE) >= DATE '1997-01-01'
           AND CAST(o_orderdate AS DATE) < DATE '1997-04-01'
           AND l_returnflag = 'R'
         GROUP BY c_custkey, c_name, c_acctbal, n_name
         ORDER BY revenue DESC, c_custkey LIMIT 20"""),

    // ---- TPC-H Q7 shape: two-nation trade volume by year ----
    QueryDef("q_tpch_q7", (s, dir) => {
      // the nation pair predicate collapses both dim chains to a
      // handful of keys before they broadcast; the fact side shuffles
      // once on orderkey. Disjunctive pair filters stay ABOVE the join
      // (they reference both sides) but each leg's nation list is tiny.
      val n1 = Tables.load(s, dir, "nation")
        .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
        .filter(col("supp_nation").isin("NATION_3", "NATION_7"))
      val n2 = Tables.load(s, dir, "nation")
        .select(col("n_nationkey").as("c_nk"), col("n_name").as("cust_nation"))
        .filter(col("cust_nation").isin("NATION_3", "NATION_7"))
      val supp = Tables.load(s, dir, "supplier")
        .join(broadcast(n1), col("s_nationkey") === col("s_nk"))
        .select(col("s_suppkey"), col("supp_nation"))
      val cust = Tables.load(s, dir, "customer")
        .join(broadcast(n2), col("c_nationkey") === col("c_nk"))
        .select(col("c_custkey"), col("cust_nation"))
      val ord = Tables.load(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
      Tables.load(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"),
          year(col("l_shipdate").cast("date")).as("l_year"),
          col("l_extendedprice"), col("l_discount"))
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .filter((col("supp_nation") === "NATION_3" && col("cust_nation") === "NATION_7") ||
          (col("supp_nation") === "NATION_7" && col("cust_nation") === "NATION_3"))
        .groupBy(col("supp_nation"), col("cust_nation"), col("l_year"))
        .agg(dsumExact(revenueTerm(col("l_extendedprice"), col("l_discount"))).as("volume"))
        .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
    },
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           EXTRACT(YEAR FROM CAST(l_shipdate AS DATE)) AS l_year,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS volume
         FROM supplier JOIN lineitem ON s_suppkey = l_suppkey
           JOIN orders ON o_orderkey = l_orderkey
           JOIN customer ON c_custkey = o_custkey
           JOIN nation n1 ON s_nationkey = n1.n_nationkey
           JOIN nation n2 ON c_nationkey = n2.n_nationkey
         WHERE (n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
            OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3')
         GROUP BY 1, 2, 3 ORDER BY 1, 2, 3"""),

    /* The remaining TPC-H shapes from the r5 brief
     * (Q4 EXISTS semi-join, Q13 left-outer count distribution, Q16
     * NOT-IN + count-distinct over a dim join), a second TPC-H batch
     * (Q15 argmax-vs-aggregate, Q17 per-group-threshold filter, Q19
     * disjunctive dim predicates, Q22 anti-join + scalar-subquery
     * threshold) — all adapted to this star schema, which has no
     * commit/receipt dates and no partsupp, by predicates that keep the
     * plan shapes identical — the ANN recall@10 audit that turns
     * approximate-search quality into a driver-hash-checked number, and
     * the bigram-LM document scorer (the statistical quality filter a
     * pre-training pipeline runs corpus-wide).
     *
     * Oracle-parity rules as the earlier packs: money/quantity sums
     * accumulate in DECIMAL(18,2) and only then cast to double, scalar
     * thresholds are computed with identical expression trees on both
     * engines, ln is rounded per-row before any cross-row aggregate,
     * and every row dump carries a total ORDER BY.
     */
    // ---- TPC-H Q4 shape: priority distribution of flagged orders ----
    QueryDef("q_tpch_q4", (s, dir) => {
      // EXISTS compiles to a left-semi join: the quarter predicate
      // pushes to the orders scan, the returnflag predicate to the
      // lineitem scan, and each fact shuffles once on the order key —
      // the semi side carries a single column across the wire.
      val li = Tables.load(s, dir, "lineitem")
        .filter(col("l_returnflag") === "R")
        .select(col("l_orderkey"))
      Tables.load(s, dir, "orders")
        .filter(col("o_orderdate").cast("date") >= lit("1997-01-01").cast("date") &&
          col("o_orderdate").cast("date") < lit("1997-04-01").cast("date"))
        .join(li, col("o_orderkey") === col("l_orderkey"), "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("order_count"))
        .orderBy(col("o_orderpriority"))
    },
      """SELECT o_orderpriority, COUNT(*) AS order_count
         FROM orders
         WHERE CAST(o_orderdate AS DATE) >= DATE '1997-01-01'
           AND CAST(o_orderdate AS DATE) < DATE '1997-04-01'
           AND EXISTS (SELECT 1 FROM lineitem
                       WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
         GROUP BY 1 ORDER BY 1"""),

    // ---- TPC-H Q13 shape: customer order-count distribution ----
    QueryDef("q_tpch_q13", (s, dir) => {
      // zero-order customers must appear, so the join is left-outer —
      // but the fact aggregates FIRST (map-side combinable count per
      // custkey), and only the compact (custkey, count) frame meets the
      // customer table on the join key. No raw orders×customer shuffle;
      // at bench SF AQE turns the pre-aggregated side into a broadcast.
      val cnt = Tables.load(s, dir, "orders")
        .filter(col("o_orderpriority") =!= "1-URGENT")
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"))
      Tables.load(s, dir, "customer")
        .select(col("c_custkey"))
        .join(cnt, col("c_custkey") === col("o_custkey"), "left")
        .select(coalesce(col("n_orders"), lit(0L)).as("c_count"))
        .groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    },
      """SELECT c_count, COUNT(*) AS custdist FROM (
           SELECT c_custkey, COUNT(o_orderkey) AS c_count
           FROM customer LEFT JOIN orders
             ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
           GROUP BY c_custkey)
         GROUP BY 1 ORDER BY custdist DESC, c_count DESC"""),

    // ---- TPC-H Q16 shape: supplier breadth per part profile ----
    QueryDef("q_tpch_q16", (s, dir) => {
      // lineitem stands in for partsupp as the part↔supplier bridge:
      // the filtered part dim broadcasts, the NOT-IN supplier exclusion
      // anti-joins as a broadcast (s_suppkey is non-null, so anti-join
      // and NOT IN agree), and the count-distinct runs as the standard
      // two-phase aggregation. The fact shuffles once, on the group keys.
      val p = Tables.load(s, dir, "part")
        .filter(col("p_brand") =!= "Brand#13" && col("p_type") =!= "PROMO" &&
          col("p_size").isin(1, 4, 9, 14, 19, 23, 36, 45))
        .select(col("p_partkey"), col("p_brand"), col("p_type"), col("p_size"))
      val excl = Tables.load(s, dir, "supplier")
        .filter(col("s_acctbal") < 1000)
        .select(col("s_suppkey"))
      Tables.load(s, dir, "lineitem")
        .select(col("l_partkey"), col("l_suppkey"))
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .join(broadcast(excl), col("l_suppkey") === col("s_suppkey"), "left_anti")
        .groupBy(col("p_brand"), col("p_type"), col("p_size"))
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
        .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"), col("p_size"))
    },
      """SELECT p_brand, p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
         FROM lineitem JOIN part ON l_partkey = p_partkey
         WHERE p_brand <> 'Brand#13' AND p_type <> 'PROMO'
           AND p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
           AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 1000)
         GROUP BY 1, 2, 3
         ORDER BY supplier_cnt DESC, p_brand, p_type, p_size"""),

    // ---- TPC-H Q15 shape: top supplier by quarterly revenue ----
    QueryDef("q_tpch_q15", (s, dir) => {
      // argmax over an aggregate: per-supplier revenue is one hash
      // aggregation of the date-filtered fact; the max is a one-row
      // frame that broadcasts back as a cross join (the scalar-subquery
      // plan), and the supplier dim broadcasts onto the tiny result.
      // Revenue doubles are bit-identical on both engines (exact
      // decimal sum, one final cast), so the max-equality cut is safe.
      val rev = Tables.load(s, dir, "lineitem")
        .filter(col("l_shipdate").cast("date") >= lit("1997-01-01").cast("date") &&
          col("l_shipdate").cast("date") < lit("1997-04-01").cast("date"))
        .groupBy(col("l_suppkey"))
        .agg(dsumExact(revenueTerm(col("l_extendedprice"), col("l_discount")))
          .as("total_revenue"))
      val mx = rev.agg(max(col("total_revenue")).as("max_revenue"))
      val supp = Tables.load(s, dir, "supplier").select(col("s_suppkey"), col("s_name"))
      rev.crossJoin(broadcast(mx))
        .filter(col("total_revenue") === col("max_revenue"))
        .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"), col("total_revenue"))
        .orderBy(col("s_suppkey"))
    },
      """WITH rev AS (
           SELECT l_suppkey,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS total_revenue
           FROM lineitem
           WHERE CAST(l_shipdate AS DATE) >= DATE '1997-01-01'
             AND CAST(l_shipdate AS DATE) < DATE '1997-04-01'
           GROUP BY 1)
         SELECT s_suppkey, s_name, total_revenue
         FROM rev JOIN supplier ON l_suppkey = s_suppkey
         WHERE total_revenue = (SELECT MAX(total_revenue) FROM rev)
         ORDER BY s_suppkey"""),

    // ---- TPC-H Q17 shape: small-quantity revenue for a part profile ----
    QueryDef("q_tpch_q17", (s, dir) => {
      // the correlated avg-quantity subquery becomes aggregate + join:
      // lineitem restricted to the (broadcast) filtered parts feeds one
      // per-part threshold aggregate, which joins back onto the same
      // restricted fact. The threshold is exact-decimal / count * 0.2
      // with the identical tree on both engines, so boundary rows
      // cannot flip on summation order.
      val p = Tables.load(s, dir, "part")
        .filter(col("p_brand") === "Brand#23" && col("p_size") < 10)
        .select(col("p_partkey"))
      val li = Tables.load(s, dir, "lineitem")
        .select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"))
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      val thresh = li.groupBy(col("l_partkey").as("tk"))
        .agg((sum(col("l_quantity").cast(DecimalType(18, 2))).cast("double") /
          count(lit(1)) * 0.2).as("q_thresh"))
      li.join(broadcast(thresh), col("l_partkey") === col("tk"))
        .filter(col("l_quantity") < col("q_thresh"))
        .agg(round(dsumExact(col("l_extendedprice").cast(DecimalType(18, 2))) / 7.0, 6)
          .as("avg_yearly"))
    },
      """WITH li AS (
           SELECT l_partkey, l_quantity, l_extendedprice
           FROM lineitem JOIN part ON l_partkey = p_partkey
           WHERE p_brand = 'Brand#23' AND p_size < 10),
         th AS (
           SELECT l_partkey AS tk,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) * 0.2 AS q_thresh
           FROM li GROUP BY 1)
         SELECT ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0, 6) AS avg_yearly
         FROM li JOIN th ON l_partkey = tk
         WHERE l_quantity < q_thresh"""),

    // ---- TPC-H Q19 shape: disjunctive dim-predicate revenue ----
    QueryDef("q_tpch_q19", (s, dir) => {
      // OR-of-ANDs across both sides of a broadcast dim join: the
      // shared l_quantity bound pushes to the fact scan; the per-brand
      // conjunctions run above the join (they reference both sides).
      val p = Tables.load(s, dir, "part")
        .select(col("p_partkey"), col("p_brand"), col("p_size"))
      Tables.load(s, dir, "lineitem")
        .select(col("l_partkey"), col("l_quantity"),
          col("l_extendedprice"), col("l_discount"))
        .filter(col("l_quantity") >= 1 && col("l_quantity") <= 30)
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .filter(
          (col("p_brand") === "Brand#12" && col("p_size").between(1, 5) &&
            col("l_quantity") <= 11) ||
          (col("p_brand") === "Brand#23" && col("p_size").between(1, 10) &&
            col("l_quantity").between(10, 20)) ||
          (col("p_brand") === "Brand#34" && col("p_size").between(1, 15) &&
            col("l_quantity") >= 20))
        .agg(dsumExact(revenueTerm(col("l_extendedprice"), col("l_discount")))
          .as("revenue"))
    },
      """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
         FROM lineitem JOIN part ON l_partkey = p_partkey
         WHERE l_quantity >= 1 AND l_quantity <= 30
           AND ((p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5 AND l_quantity <= 11)
             OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20)
             OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15 AND l_quantity >= 20))"""),

    // ---- TPC-H Q2 shape: cheapest supplier per part profile ----
    QueryDef("q_tpch_q2", (s, dir) => {
      // the correlated-min shape: per-(part, supplier) unit cost over a
      // filtered part family and region-filtered suppliers, the min
      // resolved by a window over the SAME partition key as the
      // aggregate (no re-shuffle), equality cut, dims re-attached by
      // broadcast. Unit cost is a per-row division + MIN — identical
      // IEEE steps on both engines, so the equality cut is stable.
      import org.apache.spark.sql.expressions.Window
      val eur = Tables.load(s, dir, "supplier")
        .join(broadcast(Tables.load(s, dir, "nation")
          .join(broadcast(Tables.load(s, dir, "region")
            .filter(col("r_name") === "EUROPE")),
            col("n_regionkey") === col("r_regionkey"))
          .select(col("n_nationkey"), col("n_name"))),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("s_name"), col("s_acctbal"), col("n_name"))
      val p = Tables.load(s, dir, "part")
        .filter(col("p_size") === 15 && col("p_type") === "SMALL")
        .select(col("p_partkey"))
      val cost = Tables.load(s, dir, "lineitem")
        .select(col("l_partkey"), col("l_suppkey"),
          (col("l_extendedprice") / col("l_quantity")).as("unit"))
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .join(broadcast(eur.select(col("s_suppkey"))),
          col("l_suppkey") === col("s_suppkey"), "left_semi")
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(min(col("unit")).as("unit_cost"))
      val w = Window.partitionBy(col("l_partkey"))
      cost.withColumn("mc", min(col("unit_cost")).over(w))
        .filter(col("unit_cost") === col("mc"))
        .join(broadcast(eur), col("l_suppkey") === col("s_suppkey"))
        .select(col("s_acctbal"), col("s_name"), col("n_name"),
          col("l_partkey").as("p_partkey"), round(col("unit_cost"), 6).as("unit_cost"))
        .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"), col("p_partkey"))
        .limit(100)
    },
      """WITH eur AS (
           SELECT s_suppkey, s_name, s_acctbal, n_name
           FROM supplier JOIN nation ON s_nationkey = n_nationkey
             JOIN region ON n_regionkey = r_regionkey
           WHERE r_name = 'EUROPE'),
         cost AS (
           SELECT l_partkey, l_suppkey, MIN(l_extendedprice / l_quantity) AS unit_cost
           FROM lineitem JOIN part ON l_partkey = p_partkey
           WHERE p_size = 15 AND p_type = 'SMALL'
             AND l_suppkey IN (SELECT s_suppkey FROM eur)
           GROUP BY 1, 2)
         SELECT s_acctbal, s_name, n_name, l_partkey AS p_partkey,
           ROUND(unit_cost, 6) AS unit_cost
         FROM cost JOIN eur ON l_suppkey = s_suppkey
         WHERE unit_cost = (SELECT MIN(unit_cost) FROM cost c2
                            WHERE c2.l_partkey = cost.l_partkey)
         ORDER BY s_acctbal DESC, n_name, s_name, p_partkey LIMIT 100"""),

    // ---- TPC-H Q11 shape: above-average-value parts ----
    QueryDef("q_tpch_q11", (s, dir) => {
      // group aggregate + scalar-subquery threshold: per-part shipped
      // value against 1.2× the average part's value. The threshold is
      // scale-free (selects the above-average tail at any SF) and both
      // factors come from exact decimal sums, so the cut is
      // engine-stable. One fact aggregation + a broadcast 1-row frame.
      val term = revenueTerm(col("l_extendedprice"), col("l_discount"))
      // ONE lineitem scan instead of two (r17, guide §1.2): the global
      // total re-aggregates the per-part DECIMAL partials — decimal
      // addition is exact and associative, so sum-of-sums equals the
      // direct decimal sum bit-for-bit (both only cast to double at the
      // end), and np counts the non-null part keys, which is
      // COUNT(DISTINCT l_partkey): the groupBy keeps a NULL key as its
      // own group, and count(col) skips it where count(1) would not.
      // The scan is spread (loadSpread) because the decimal partial agg
      // is CPU-bound on the single-split testdata scan (the
      // q_corr_matrix precedent; decimal sums commute, so results are
      // identical).
      val pvd = Tables.loadSpread(s, dir, "lineitem", "l_partkey")
        .groupBy(col("l_partkey")).agg(sum(term).as("vdec"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val tot = pvd.agg(sum(col("vdec")).cast("double").as("t"),
        count(col("l_partkey")).as("np"))
      pvd.select(col("l_partkey"), col("vdec").cast("double").as("value"))
        .crossJoin(broadcast(tot))
        .filter(col("value") > lit(1.2) * (col("t") / col("np")))
        .select(col("l_partkey"), col("value"))
        .orderBy(col("value").desc, col("l_partkey"))
    },
      """WITH pv AS (
           SELECT l_partkey,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS value
           FROM lineitem GROUP BY 1),
         tot AS (
           SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS t,
             COUNT(DISTINCT l_partkey) AS np
           FROM lineitem)
         SELECT l_partkey, value FROM pv CROSS JOIN tot
         WHERE value > 1.2 * (t / np)
         ORDER BY value DESC, l_partkey"""),

    // ---- TPC-H Q8 shape: national market share by year ----
    QueryDef("q_tpch_q8", (s, dir) => {
      // NATION_3 suppliers' share of the European customer market:
      // every dim chain (region→nation→customer, nation→supplier)
      // collapses to a broadcast before touching a fact; the only
      // fact-fact shuffle is lineitem⋈orders on the order key. The
      // share divides two exact-decimal sums per year, so the ratio is
      // engine-stable.
      val nat = Tables.load(s, dir, "nation")
      val eurN = nat
        .join(broadcast(Tables.load(s, dir, "region")
          .filter(col("r_name") === "EUROPE")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey").as("eur_nk"))
      val cust = Tables.load(s, dir, "customer")
        .join(broadcast(eurN), col("c_nationkey") === col("eur_nk"))
        .select(col("c_custkey"))
      val ord = Tables.load(s, dir, "orders")
        .filter(col("o_orderdate").cast("date") >= lit("1996-01-01").cast("date") &&
          col("o_orderdate").cast("date") < lit("1999-01-01").cast("date"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .select(col("o_orderkey"), year(col("o_orderdate").cast("date")).as("o_year"))
      val suppNat = Tables.load(s, dir, "supplier")
        .join(broadcast(nat.select(col("n_nationkey"), col("n_name"))),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name"))
      val term = revenueTerm(col("l_extendedprice"), col("l_discount"))
      Tables.load(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"),
          col("l_extendedprice"), col("l_discount"))
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(suppNat), col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("o_year"))
        .agg(round(
          sum(when(col("n_name") === "NATION_3", term)).cast("double") /
            dsumExact(term), 6).as("mkt_share"))
        .orderBy(col("o_year"))
    },
      """SELECT EXTRACT(YEAR FROM CAST(o_orderdate AS DATE)) AS o_year,
           ROUND(
             CAST(SUM(CASE WHEN n2.n_name = 'NATION_3'
               THEN CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))) END) AS DOUBLE) /
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE),
             6) AS mkt_share
         FROM lineitem
           JOIN orders ON l_orderkey = o_orderkey
           JOIN customer ON o_custkey = c_custkey
           JOIN nation n1 ON c_nationkey = n1.n_nationkey
           JOIN region ON n1.n_regionkey = r_regionkey
           JOIN supplier ON l_suppkey = s_suppkey
           JOIN nation n2 ON s_nationkey = n2.n_nationkey
         WHERE r_name = 'EUROPE'
           AND CAST(o_orderdate AS DATE) >= DATE '1996-01-01'
           AND CAST(o_orderdate AS DATE) < DATE '1999-01-01'
         GROUP BY 1 ORDER BY 1"""),

    // ---- TPC-H Q9 shape: net revenue by supplier nation and year ----
    QueryDef("q_tpch_q9", (s, dir) => {
      // profit-by-nation-year over a part-name pattern: the LIKE
      // filter prunes the part dim before it broadcasts; the amount
      // chains three DECIMAL(18,2) factors (price, discount, tax)
      // before the single cast to double.
      val p = Tables.load(s, dir, "part")
        .filter(col("p_name").like("%widget%"))
        .select(col("p_partkey"))
      val suppNat = Tables.load(s, dir, "supplier")
        .join(broadcast(Tables.load(s, dir, "nation")
          .select(col("n_nationkey"), col("n_name"))),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name").as("nation"))
      val amount = revenueTerm(col("l_extendedprice"), col("l_discount")) *
        (lit(1).cast(DecimalType(18, 2)) - col("l_tax").cast(DecimalType(18, 2)))
      Tables.load(s, dir, "lineitem")
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .join(broadcast(suppNat), col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("nation"), year(col("l_shipdate").cast("date")).as("o_year"))
        .agg(dsumExact(amount).as("sum_profit"))
        .orderBy(col("nation"), col("o_year").desc)
    },
      """SELECT n_name AS nation,
           EXTRACT(YEAR FROM CAST(l_shipdate AS DATE)) AS o_year,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))
             * (1 - CAST(l_tax AS DECIMAL(18,2)))) AS DOUBLE) AS sum_profit
         FROM lineitem
           JOIN part ON l_partkey = p_partkey
           JOIN supplier ON l_suppkey = s_suppkey
           JOIN nation ON s_nationkey = n_nationkey
         WHERE p_name LIKE '%widget%'
         GROUP BY 1, 2 ORDER BY nation, o_year DESC"""),

    // ---- TPC-H Q20 shape: dominant suppliers of a part family ----
    QueryDef("q_tpch_q20", (s, dir) => {
      // the nested-IN chain: suppliers who shipped more than 12% of
      // some widget-part's total quantity. The (part, supplier)
      // aggregate runs once; the per-part total is a window over that
      // already-aggregated frame (same partition key — no extra
      // shuffle); qualifying suppliers semi-join the supplier dim.
      // The share compares two exact-decimal sums cast once to double.
      import org.apache.spark.sql.expressions.Window
      val p = Tables.load(s, dir, "part")
        .filter(col("p_name").like("%widget%"))
        .select(col("p_partkey"))
      val q = Tables.load(s, dir, "lineitem")
        .select(col("l_partkey"), col("l_suppkey"), col("l_quantity"))
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(sum(col("l_quantity").cast(DecimalType(18, 2))).as("sq"))
      val w = Window.partitionBy(col("l_partkey"))
      val dominant = q
        .withColumn("tot", sum(col("sq")).over(w))
        .filter(col("sq").cast("double") > lit(0.12) * col("tot").cast("double"))
        .select(col("l_suppkey"))
      Tables.load(s, dir, "supplier")
        .select(col("s_suppkey"), col("s_name"))
        .join(dominant, col("s_suppkey") === col("l_suppkey"), "left_semi")
        .orderBy(col("s_suppkey"))
    },
      """WITH q AS (
           SELECT l_partkey, l_suppkey,
             SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sq
           FROM lineitem JOIN part ON l_partkey = p_partkey
           WHERE p_name LIKE '%widget%' GROUP BY 1, 2),
         t AS (SELECT l_partkey, SUM(sq) AS tot FROM q GROUP BY 1)
         SELECT s_suppkey, s_name FROM supplier
         WHERE s_suppkey IN (
           SELECT l_suppkey FROM q JOIN t USING (l_partkey)
           WHERE CAST(sq AS DOUBLE) > 0.12 * CAST(tot AS DOUBLE))
         ORDER BY s_suppkey"""),

    // ---- TPC-H Q21 shape: sole-returning supplier on shared orders ----
    QueryDef("q_tpch_q21", (s, dir) => {
      // suppliers whose RETURNED lines sit on multi-supplier orders
      // where no other supplier returned anything: one semi-join (some
      // other supplier on the order) and one anti-join (no other
      // supplier returned) — both equi-joins on the order key with a
      // supplier inequality, the classic double-EXISTS shape.
      // No persist: each branch is a column-pruned scan, two of them
      // with the returnflag predicate pushed to parquet. At 100 TB a
      // cluster-wide cache of the fact projection would churn TB of
      // executor disk; stateless re-scans are cheaper.
      def liR = Tables.load(s, dir, "lineitem")
        .filter(col("l_returnflag") === "R")
        .select(col("l_orderkey"), col("l_suppkey"))
      val l2 = Tables.load(s, dir, "lineitem")
        .select(col("l_orderkey").as("o2"), col("l_suppkey").as("s2"))
      val l3 = liR.select(col("l_orderkey").as("o3"), col("l_suppkey").as("s3"))
      val supp = Tables.load(s, dir, "supplier").select(col("s_suppkey"), col("s_name"))
      liR
        .join(l2, col("l_orderkey") === col("o2") && col("s2") =!= col("l_suppkey"),
          "left_semi")
        .join(l3, col("l_orderkey") === col("o3") && col("s3") =!= col("l_suppkey"),
          "left_anti")
        // the aggregate keys on the supplier KEY; the name rides along
        // after a broadcast join, and s_suppkey stays in the output and
        // the sort so duplicate supplier names can neither merge rows
        // nor make the limit nondeterministic
        .groupBy(col("l_suppkey"))
        .agg(count(lit(1)).as("numwait"))
        .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"), col("numwait"))
        .orderBy(col("numwait").desc, col("s_name"), col("s_suppkey"))
        .limit(20)
    },
      """SELECT s_suppkey, s_name, COUNT(*) AS numwait
         FROM lineitem l1 JOIN supplier ON l1.l_suppkey = s_suppkey
         WHERE l1.l_returnflag = 'R'
           AND EXISTS (SELECT 1 FROM lineitem l2
                       WHERE l2.l_orderkey = l1.l_orderkey
                         AND l2.l_suppkey <> l1.l_suppkey)
           AND NOT EXISTS (SELECT 1 FROM lineitem l3
                           WHERE l3.l_orderkey = l1.l_orderkey
                             AND l3.l_suppkey <> l1.l_suppkey
                             AND l3.l_returnflag = 'R')
         GROUP BY s_suppkey, s_name
         ORDER BY numwait DESC, s_name, s_suppkey LIMIT 20"""),

    // ---- TPC-H Q22 shape: rich lapsed customers by nation ----
    QueryDef("q_tpch_q22", (s, dir) => {
      // anti-join (customers with no RECENT orders — every customer in
      // this corpus has some order, so the date scope keeps the
      // predicate non-vacuous) + a broadcast scalar threshold (average
      // positive balance, exact-decimal / count so the comparison is
      // engine-stable), rolled up per nation.
      val cust = Tables.load(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey"), col("c_acctbal"))
      val avgBal = cust.filter(col("c_acctbal") > 0.0)
        .agg((sum(col("c_acctbal").cast(DecimalType(18, 2))).cast("double") /
          count(lit(1))).as("avg_bal"))
      val ord = Tables.load(s, dir, "orders")
        .filter(col("o_orderdate").cast("date") >= lit("1999-01-01").cast("date"))
        .select(col("o_custkey"))
      cust
        .join(ord, col("c_custkey") === col("o_custkey"), "left_anti")
        .crossJoin(broadcast(avgBal))
        .filter(col("c_acctbal") > col("avg_bal"))
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("numcust"),
          dsumExact(col("c_acctbal").cast(DecimalType(18, 2))).as("totacctbal"))
        .orderBy(col("c_nationkey"))
    },
      """SELECT c_nationkey, COUNT(*) AS numcust,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
         FROM customer
         WHERE c_acctbal > (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
                            FROM customer WHERE c_acctbal > 0.0)
           AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                           AND CAST(o_orderdate AS DATE) >= DATE '1999-01-01')
         GROUP BY 1 ORDER BY 1"""),

    /* One-pass statistics over the fact table — the full
     * Pearson correlation matrix of lineitem's numeric columns and
     * order-to-ship latency percentiles per priority. Exact decimal sums
     * / R-7 percentiles; DuckDB-checked.
     */
    // ---- one-pass correlation matrix ----
    QueryDef("q_corr_matrix", (s, dir) =>
      // loadSpread (r16): the 14 exact decimal(38,0) sums are CPU-bound
      // and the single-file driver testdata gives the scan 3 splits —
      // the spread prices the map-side parallelism real splits give for
      // free at scale; decimal sums commute, so the result is identical
      Profile.corrMatrix(Tables.loadSpread(s, dir, "lineitem", "l_orderkey"), Seq(
          "quantity" -> round(col("l_quantity") * 100).cast("long"),
          "extendedprice" -> round(col("l_extendedprice") * 100).cast("long"),
          "discount" -> round(col("l_discount") * 100).cast("long"),
          "tax" -> round(col("l_tax") * 100).cast("long")))
        .orderBy(col("col_a"), col("col_b")),
      {
      val cols = Seq(
        "quantity" -> "l_quantity", "extendedprice" -> "l_extendedprice",
        "discount" -> "l_discount", "tax" -> "l_tax")
      val cents = cols.map { case (nm, c) =>
        s"CAST(ROUND($c * 100) AS BIGINT) AS $nm" }.mkString(", ")
      val sums = cols.flatMap { case (nm, _) =>
        Seq(s"SUM($nm) AS s_$nm", s"SUM($nm * $nm) AS ss_$nm") } ++
        cols.map(_._1).combinations(2).map { case Seq(a, b) =>
          s"SUM($a * $b) AS sp_${a}_$b" }
      val rows = cols.map(_._1).combinations(2).map { case Seq(a, b) =>
        s"""SELECT '$a' AS col_a, '$b' AS col_b, n,
           CASE WHEN CAST(n AS DOUBLE) * CAST(ss_$a AS DOUBLE) -
                  CAST(s_$a AS DOUBLE) * CAST(s_$a AS DOUBLE) > 0
                 AND CAST(n AS DOUBLE) * CAST(ss_$b AS DOUBLE) -
                  CAST(s_$b AS DOUBLE) * CAST(s_$b AS DOUBLE) > 0
             THEN ROUND((CAST(n AS DOUBLE) * CAST(sp_${a}_$b AS DOUBLE) -
                 CAST(s_$a AS DOUBLE) * CAST(s_$b AS DOUBLE)) /
               (sqrt(CAST(n AS DOUBLE) * CAST(ss_$a AS DOUBLE) -
                  CAST(s_$a AS DOUBLE) * CAST(s_$a AS DOUBLE)) *
                sqrt(CAST(n AS DOUBLE) * CAST(ss_$b AS DOUBLE) -
                  CAST(s_$b AS DOUBLE) * CAST(s_$b AS DOUBLE))), 6)
             END AS corr FROM g""" }.mkString("\n         UNION ALL ")
      s"""WITH c AS (SELECT $cents FROM lineitem),
         g AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, ${sums.mkString(", ")}
           FROM c)
         $rows
         ORDER BY col_a, col_b"""
    }),

    // ---- order-to-ship latency percentiles per priority ----
    QueryDef("q_ship_latency", (s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_shipdate"))
      val o = Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderdate"),
          col("o_orderpriority"))
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .select(col("o_orderpriority").as("priority"),
          datediff(col("l_shipdate"), col("o_orderdate")).cast("long")
            .as("lat"))
        .groupBy(col("priority"))
        .agg(count(lit(1)).as("n"),
          min(col("lat")).as("min_days"), max(col("lat")).as("max_days"),
          round(percentile(col("lat"), lit(0.5)), 6).as("p50_days"),
          round(percentile(col("lat"), lit(0.9)), 6).as("p90_days"))
        .orderBy(col("priority"))
    },
      """WITH j AS (SELECT o.o_orderpriority AS priority,
             datediff('day', CAST(o.o_orderdate AS DATE),
               CAST(l.l_shipdate AS DATE)) AS lat
           FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey)
         SELECT priority, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MIN(lat) AS BIGINT) AS min_days,
           CAST(MAX(lat) AS BIGINT) AS max_days,
           ROUND(quantile_cont(lat, 0.5), 6) AS p50_days,
           ROUND(quantile_cont(lat, 0.9), 6) AS p90_days
         FROM j GROUP BY 1 ORDER BY priority"""),
    // ---- type-2 SCD merge ----
    QueryDef("q_scd2", (s, dir) =>
      MasterData.scd2Merge(scd2Dim(s, dir), scd2Updates(s, dir))
        .orderBy(col("key"), col("valid_from"), col("is_current")),
      s"""WITH $scd2CoreSql
         SELECT k AS key, attr, valid_from, valid_to, is_current
         FROM scd ORDER BY key, valid_from, is_current"""),

    /* The change-data plumbing around a warehouse —
     * CDC changelog apply (last-writer-wins merge), point-in-time lookup
     * against the round-9b SCD2 history, and the pre-join output-size
     * audit. Deterministic end to end; the PIT oracle replays the FULL
     * merge-then-lookup composition in SQL.
     */
    // ---- CDC changelog apply ----
    QueryDef("q_cdc_apply", (s, dir) => {
      // planted log: updates on every 10th key (an earlier losing
      // update on every 20th exercises the latest-wins reduce),
      // deletes on every 7th (seq above the updates, so a key in both
      // sets ends deleted), inserts of unknown keys
      val cust = Tables.load(s, dir, "customer")
      val snap = cust.select(col("c_custkey").cast("long").as("key"),
        col("c_mktsegment").as("attr"))
      val off = broadcast(cust.agg((max(col("c_custkey")) + 1L).as("_off")))
      val k = col("c_custkey").cast("long")
      val log = cust.filter(k % 10 === 0)
        .select(k.as("key"), lit("MOVED").as("attr"),
          lit(200L).as("seq"), lit("U").as("op"))
        .unionByName(cust.filter(k % 20 === 0)
          .select(k.as("key"), lit("EARLY").as("attr"),
            lit(100L).as("seq"), lit("U").as("op")))
        .unionByName(cust.filter(k % 7 === 0)
          .select(k.as("key"), lit(null).cast("string").as("attr"),
            lit(300L).as("seq"), lit("D").as("op")))
        .unionByName(cust.filter(k % 100 === 0).crossJoin(off)
          .select((k + col("_off")).as("key"), lit("NEW").as("attr"),
            lit(100L).as("seq"), lit("I").as("op")))
      MasterData.cdcApply(snap, log).orderBy(col("key"))
    },
      """WITH snap AS (SELECT CAST(c_custkey AS BIGINT) AS k,
             c_mktsegment AS attr FROM customer),
         o AS (SELECT MAX(k) + 1 AS off FROM snap),
         log0 AS (
           SELECT k, 'MOVED' AS attr, CAST(200 AS BIGINT) AS seq,
             'U' AS op FROM snap WHERE k % 10 = 0
           UNION ALL
           SELECT k, 'EARLY', CAST(100 AS BIGINT), 'U'
           FROM snap WHERE k % 20 = 0
           UNION ALL
           SELECT k, CAST(NULL AS VARCHAR), CAST(300 AS BIGINT), 'D'
           FROM snap WHERE k % 7 = 0
           UNION ALL
           SELECT k + off, 'NEW', CAST(100 AS BIGINT), 'I'
           FROM snap CROSS JOIN o WHERE k % 100 = 0),
         w AS (
           SELECT k, op, attr FROM (
             SELECT k, op, attr, ROW_NUMBER() OVER (PARTITION BY k
               ORDER BY seq DESC, op DESC, attr DESC) AS rn FROM log0)
           WHERE rn = 1),
         m AS (
           SELECT COALESCE(s.k, w.k) AS k, s.attr AS sattr,
             w.op, w.attr AS wattr,
             s.k IS NOT NULL AS has_s, w.k IS NOT NULL AS has_w
           FROM snap s FULL JOIN w ON s.k = w.k)
         SELECT k AS key,
           CASE WHEN has_w THEN wattr ELSE sattr END AS attr
         FROM m WHERE NOT has_w OR op <> 'D'
         ORDER BY key"""),

    // ---- point-in-time lookup against the SCD2 history ----
    QueryDef("q_scd2_lookup", (s, dir) => {
      val dim = MasterData.scd2Merge(
        scd2Dim(s, dir), scd2Updates(s, dir))
      val cust = Tables.load(s, dir, "customer")
      val off = broadcast(cust.agg((max(col("c_custkey")) + 1L).as("_off")))
      // facts before (50000) and after (100000) the eff=86400 change,
      // for both known keys and the born-at-86400 unknown keys — the
      // pre-history fact must come back with a NULL attr, not vanish
      val keys = cust.select(col("c_custkey").cast("long").as("key"))
        .unionByName(cust.filter(col("c_custkey") % 100 === 0)
          .crossJoin(off)
          .select((col("c_custkey") + col("_off")).as("key")))
      val facts = keys.select(col("key"),
        explode(array(lit(50000L), lit(100000L))).as("ts"))
      MasterData.scd2Lookup(facts, dim).orderBy(col("key"), col("ts"))
    },
      s"""WITH ${scd2CoreSql},
         keys AS (
           SELECT k FROM dim
           UNION ALL
           SELECT k + off FROM dim CROSS JOIN o WHERE k % 100 = 0),
         facts AS (
           SELECT k AS fk, ts FROM keys
           CROSS JOIN (SELECT UNNEST([CAST(50000 AS BIGINT),
             CAST(100000 AS BIGINT)]) AS ts))
         SELECT f.fk AS key, f.ts, s.attr
         FROM facts f LEFT JOIN scd s
           ON f.fk = s.k AND f.ts >= s.valid_from
             AND f.ts < COALESCE(s.valid_to, 9223372036854775807)
         ORDER BY key, ts"""),

    // ---- pre-join output-size audit ----
    QueryDef("q_join_audit", (s, dir) =>
      Skew.joinSizeAudit(Tables.load(s, dir, "lineitem"), "l_orderkey",
          Tables.load(s, dir, "orders"), "o_orderkey", k = 10)
        .orderBy(col("rank")),
      """WITH l AS (SELECT CAST(l_orderkey AS BIGINT) AS k,
             CAST(COUNT(*) AS BIGINT) AS n_left
           FROM lineitem GROUP BY 1),
         r AS (SELECT CAST(o_orderkey AS BIGINT) AS k,
             CAST(COUNT(*) AS BIGINT) AS n_right
           FROM orders GROUP BY 1),
         pk AS (SELECT l.k, n_left, n_right, n_left * n_right AS n_out
           FROM l JOIN r ON l.k = r.k),
         t AS (SELECT CAST(SUM(n_out) AS BIGINT) AS total FROM pk)
         SELECT CAST(ROW_NUMBER() OVER (ORDER BY n_out DESC, k) AS INT)
             AS rank,
           k AS key, n_left, n_right, n_out,
           ROUND(CAST(n_out AS DOUBLE) / CAST(total AS DOUBLE), 6) AS share
         FROM pk CROSS JOIN t
         QUALIFY rank <= 10
         ORDER BY rank"""),

    /* Multi-change SCD2 merge — a
     * batch carrying several genuine successive changes per key emits the
     * full version chain, where [[MasterData.scd2Merge]]'s CDC-compacted
     * contract would keep only the latest. The fixture plants every
     * branch: two-change chains (every 10th key), an equal-eff tie
     * resolved by max attr (every 20th), a no-op first change equal to
     * the stored attr plus a consecutive-duplicate change (every 50th),
     * late arrivals (every 33rd), and unknown keys born through a
     * two-change chain (every 100th, offset keys). The oracle replays
     * the fold with GROUP BY + LAG/LEAD windows — drop-on-equality makes
     * the lag-collapse equivalent to the running-tail fold.
     */
    QueryDef("q_scd2_multi", (s, dir) =>
      MasterData.scd2MergeMulti(scd2Dim(s, dir),
          multiUpdates(s, dir))
        .orderBy(col("key"), col("valid_from")),
      """WITH dim AS (SELECT CAST(c_custkey AS BIGINT) AS k,
             c_mktsegment AS attr FROM customer),
         o AS (SELECT MAX(k) + 1 AS off FROM dim),
         upd0 AS (
           SELECT k, CASE WHEN k % 50 = 0 THEN attr ELSE 'M1' END
             AS attr, CAST(1000 AS BIGINT) AS eff
           FROM dim WHERE k % 10 = 0
           UNION ALL
           SELECT k, 'M2', CAST(2000 AS BIGINT) FROM dim WHERE k % 10 = 0
           UNION ALL
           SELECT k, 'ZZZ', CAST(2000 AS BIGINT) FROM dim WHERE k % 20 = 0
           UNION ALL
           SELECT k, 'M1', CAST(1500 AS BIGINT) FROM dim WHERE k % 50 = 0
           UNION ALL
           SELECT k, 'LATE', CAST(0 AS BIGINT) FROM dim WHERE k % 33 = 0
           UNION ALL
           SELECT k + off, 'N1', CAST(500 AS BIGINT)
           FROM dim CROSS JOIN o WHERE k % 100 = 0
           UNION ALL
           SELECT k + off, 'N2', CAST(1500 AS BIGINT)
           FROM dim CROSS JOIN o WHERE k % 100 = 0),
         upd1 AS (
           SELECT k, eff, MAX(attr) AS attr FROM upd0 GROUP BY k, eff),
         seq AS (
           SELECT k, CAST(0 AS BIGINT) AS eff, attr FROM dim
           UNION ALL
           SELECT u.k, u.eff, u.attr FROM upd1 u LEFT JOIN dim d
             ON u.k = d.k
           WHERE d.k IS NULL OR u.eff > 0),
         collapsed AS (
           SELECT k, eff, attr FROM (
             SELECT k, eff, attr,
               LAG(attr) OVER (PARTITION BY k ORDER BY eff) AS prev
             FROM seq)
           WHERE prev IS NULL OR attr <> prev)
         SELECT k AS key, attr, eff AS valid_from,
           LEAD(eff) OVER (PARTITION BY k ORDER BY eff) AS valid_to,
           LEAD(eff) OVER (PARTITION BY k ORDER BY eff) IS NULL
             AS is_current
         FROM collapsed
         ORDER BY key, valid_from"""),

    /* Interval algebra at scale — the overlap join
     * (binned equi-join with first-overlapping-bin dedup, never a nested
     * loop) and interval coalescing (the gaps-and-islands interval
     * variant). Intervals derive deterministically from events: lo = the
     * epoch second, hi = lo + (event_id mod 7 + 1)·600 — integer bounds
     * both engines recompute exactly.
     */
    // ---- interval-overlap join (click spans x view spans per user) ----
    QueryDef("q_interval_join", (s, dir) => {
      val iv = intervals(s, dir)
      val clicks = iv.filter(col("event_type") === "click")
        .drop("event_type")
      val views = iv.filter(col("event_type") === "view")
        .drop("event_type")
      Joins.intervalOverlapJoin(clicks, views, "lo", "hi",
          binWidth = 1800L, keys = Seq("user_id"))
        .select(col("user_id"), col("l_event_id"), col("r_event_id"),
          (least(col("l_hi"), col("r_hi")) -
            greatest(col("l_lo"), col("r_lo"))).as("overlap_sec"))
        .orderBy(col("user_id"), col("l_event_id"), col("r_event_id"))
    },
      s"""WITH $ivSql,
         c AS (SELECT * FROM iv WHERE event_type = 'click'),
         v AS (SELECT * FROM iv WHERE event_type = 'view')
         SELECT c.user_id, c.event_id AS l_event_id,
           v.event_id AS r_event_id,
           LEAST(c.hi, v.hi) - GREATEST(c.lo, v.lo) AS overlap_sec
         FROM c JOIN v ON c.user_id = v.user_id
           AND c.lo <= v.hi AND v.lo <= c.hi
         ORDER BY c.user_id, l_event_id, r_event_id"""),

    // ---- per-user coalesced activity spans ----
    QueryDef("q_interval_coalesce", (s, dir) =>
      Joins.coalesceIntervals(intervals(s, dir), Seq("user_id"),
          "lo", "hi")
        .orderBy(col("user_id")),
      s"""WITH $ivSql,
         marked AS (
           SELECT user_id, lo, hi,
             CASE WHEN lo > COALESCE(MAX(hi) OVER (
                 PARTITION BY user_id ORDER BY lo, hi
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               -9223372036854775808) THEN 1 ELSE 0 END AS opens
           FROM iv),
         spans0 AS (
           SELECT user_id, lo, hi,
             SUM(opens) OVER (PARTITION BY user_id ORDER BY lo, hi
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS span
           FROM marked),
         spans AS (
           SELECT user_id, span, MIN(lo) AS slo, MAX(hi) AS shi
           FROM spans0 GROUP BY user_id, span)
         SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_spans,
           CAST(SUM(shi - slo) AS BIGINT) AS covered
         FROM spans GROUP BY user_id ORDER BY user_id"""))
}
