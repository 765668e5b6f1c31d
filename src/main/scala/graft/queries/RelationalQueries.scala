package graft.queries

import scala.collection.immutable.ListMap
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.Tables
import graft.operators.{AsOfJoin, RobustStats, Windowed}
import QueryDef.{davg, dsum}

/** Relational operator inventory (SURVEY.md §2.2-§2.7) over the TPC-H-ish
  * fixture tables, each paired with a DuckDB oracle query.
  *
  * Determinism rules (oracle hash-matching):
  *  - money/double sums accumulate in decimal (order-independent);
  *  - exact interpolated percentile (never percentile_approx);
  *  - every result ORDER BY a unique key, NULLS FIRST spelled out in SQL
  *    (DuckDB defaults to NULLS LAST, Spark to NULLS FIRST);
  *  - timestamps compared as epoch microseconds or DATE (events.ts is
  *    parquet TIMESTAMP(NANOS): Spark reads it as long, DuckDB as
  *    TIMESTAMP_NS; both truncate to microseconds).
  */
object RelationalQueries {
  // DuckDB-side harmonized events view (ns -> us truncation).
  private val EvCte =
    "WITH ev AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, " +
      "event_type, value, props FROM events)"

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** One ANSI SQL text executed verbatim by BOTH Spark SQL and DuckDB
    * (q37): restricted to the common dialect subset (CAST, EXTRACT,
    * decimal sums).
    */
  private val SqlEndpointQuery: String =
    """SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS yr,
      o_orderstatus,
      COUNT(*) AS n_orders,
      CAST(SUM(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE) AS revenue
      FROM orders JOIN customer ON o_custkey = c_custkey
      WHERE c_mktsegment = 'BUILDING'
      GROUP BY 1, 2 ORDER BY 1, 2"""

  val defs: ListMap[String, QueryDef] = ListMap(

    // ---- A1/A2/A8: grand aggregation (TPC-H Q1 shape) ------------------
    "q01_pricing_summary" -> QueryDef(
      (s, dir) => {
        t(s, dir, "lineitem")
          .groupBy("l_returnflag", "l_linestatus")
          .agg(
            dsum(col("l_quantity")).as("sum_qty"),
            dsum(col("l_extendedprice")).as("sum_base_price"),
            dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 6)
              .as("sum_disc_price"),
            dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")) *
              (lit(1.0) + col("l_tax")), 6).as("sum_charge"),
            davg(col("l_quantity")).as("avg_qty"),
            davg(col("l_extendedprice")).as("avg_price"),
            count(lit(1)).as("count_order"))
          .orderBy("l_returnflag", "l_linestatus")
      },
      Some("""SELECT l_returnflag, l_linestatus,
        CAST(SUM(CAST(l_quantity AS DECIMAL(30,2))) AS DOUBLE) AS sum_qty,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,2))) AS DOUBLE) AS sum_base_price,
        CAST(SUM(CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(30,6))) AS DOUBLE) AS sum_disc_price,
        CAST(SUM(CAST(l_extendedprice*(1.0-l_discount)*(1.0+l_tax) AS DECIMAL(30,6))) AS DOUBLE) AS sum_charge,
        CAST(SUM(CAST(l_quantity AS DECIMAL(30,2))) AS DOUBLE)/COUNT(*) AS avg_qty,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,2))) AS DOUBLE)/COUNT(*) AS avg_price,
        COUNT(*) AS count_order
        FROM lineitem GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus""")),

    // ---- P1/P2/P3/P5: filter + projection + time-range slice -----------
    "q02_filter_project" -> QueryDef(
      (s, dir) => {
        Tables.eventsTimeSlice(s, dir,
            "2024-01-02T00:00:00Z", "2024-01-05T00:00:00Z")
          .filter(col("event_type").isin("click", "view"))
          .select(col("event_id"), unix_micros(col("ts")).as("ts_us"),
            col("user_id"), col("event_type"), col("value"))
          .orderBy("event_id")
      },
      Some(s"""$EvCte SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type, value
        FROM ev WHERE event_type IN ('click','view')
        AND ts >= TIMESTAMP '2024-01-02 00:00:00'
        AND ts < TIMESTAMP '2024-01-05 00:00:00'
        ORDER BY event_id""")),

    // ---- J1: multi-way equi-join + aggregation -------------------------
    "q03_join_agg" -> QueryDef(
      (s, dir) => {
        val cust = t(s, dir, "customer")
        val nat = t(s, dir, "nation")
        val reg = t(s, dir, "region")
        val ord = t(s, dir, "orders")
        ord.join(cust, col("o_custkey") === col("c_custkey"))
          .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
          .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
          .groupBy("r_name", "n_name")
          .agg(
            count(lit(1)).as("n_orders"),
            countDistinct(col("c_custkey")).as("n_customers"),
            dsum(col("o_totalprice")).as("revenue"))
          .orderBy("r_name", "n_name")
      },
      Some("""SELECT r_name, n_name, COUNT(*) AS n_orders,
        COUNT(DISTINCT c_custkey) AS n_customers,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE) AS revenue
        FROM orders JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name, n_name ORDER BY r_name, n_name""")),

    // ---- semi join (EXISTS) --------------------------------------------
    "q04_semi_join" -> QueryDef(
      (s, dir) => {
        val cust = t(s, dir, "customer")
        val ord = t(s, dir, "orders")
        cust.join(ord, col("c_custkey") === col("o_custkey"), "left_semi")
          .groupBy("c_mktsegment")
          .agg(count(lit(1)).as("n_customers"),
            dsum(col("c_acctbal")).as("sum_acctbal"))
          .orderBy("c_mktsegment")
      },
      Some("""SELECT c_mktsegment, COUNT(*) AS n_customers,
        CAST(SUM(CAST(c_acctbal AS DECIMAL(30,2))) AS DOUBLE) AS sum_acctbal
        FROM customer WHERE EXISTS
          (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        GROUP BY c_mktsegment ORDER BY c_mktsegment""")),

    // ---- anti join (NOT EXISTS) ----------------------------------------
    "q05_anti_join" -> QueryDef(
      (s, dir) => {
        val cust = t(s, dir, "customer")
        val ord = t(s, dir, "orders")
        cust.join(ord, col("c_custkey") === col("o_custkey"), "left_anti")
          .groupBy("c_mktsegment")
          .agg(count(lit(1)).as("n_customers"),
            dsum(col("c_acctbal")).as("sum_acctbal"))
          .orderBy("c_mktsegment")
      },
      Some("""SELECT c_mktsegment, COUNT(*) AS n_customers,
        CAST(SUM(CAST(c_acctbal AS DECIMAL(30,2))) AS DOUBLE) AS sum_acctbal
        FROM customer WHERE NOT EXISTS
          (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        GROUP BY c_mktsegment ORDER BY c_mktsegment""")),

    // ---- outer join + null handling ------------------------------------
    "q06_outer_join" -> QueryDef(
      (s, dir) => {
        val ord = t(s, dir, "orders")
        val li = t(s, dir, "lineitem")
        ord.join(li, col("o_orderkey") === col("l_orderkey"), "left_outer")
          .groupBy("o_orderpriority")
          .agg(
            count(lit(1)).as("n_rows"),
            count(col("l_orderkey")).as("n_lines"),
            dsum(coalesce(col("l_quantity"), lit(0.0))).as("sum_qty"))
          .orderBy("o_orderpriority")
      },
      Some("""SELECT o_orderpriority, COUNT(*) AS n_rows,
        COUNT(l_orderkey) AS n_lines,
        CAST(SUM(CAST(COALESCE(l_quantity, 0.0) AS DECIMAL(30,2))) AS DOUBLE) AS sum_qty
        FROM orders LEFT JOIN lineitem ON o_orderkey = l_orderkey
        GROUP BY o_orderpriority ORDER BY o_orderpriority""")),

    // ---- W2/A5: top-k per group ----------------------------------------
    "q07_topk_per_group" -> QueryDef(
      (s, dir) => {
        val ord = t(s, dir, "orders")
        val ranked = Windowed.topKPerGroup(ord, Seq("o_orderpriority"),
          Seq(col("o_totalprice").desc, col("o_orderkey").asc), 3)
        ranked
          .withColumn("rnk", row_number().over(
            Window.partitionBy("o_orderpriority")
              .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)))
          .select("o_orderpriority", "rnk", "o_orderkey", "o_totalprice")
          .orderBy("o_orderpriority", "rnk")
      },
      Some("""SELECT o_orderpriority, CAST(rnk AS INT) AS rnk, o_orderkey, o_totalprice FROM (
        SELECT o_orderpriority, o_orderkey, o_totalprice,
          ROW_NUMBER() OVER (PARTITION BY o_orderpriority
            ORDER BY o_totalprice DESC, o_orderkey) AS rnk
        FROM orders) WHERE rnk <= 3
        ORDER BY o_orderpriority, rnk""")),

    // q07's 100 TB configuration: the bounded k-buffer aggregation replaces
    // the per-group rank window (at most k pairs per group leave each
    // partition — no per-group sort, immune to one huge group). Same rows
    // and ranks as the window form (equivalence spec'd in OperatorsSpec),
    // so q07's oracle replays unchanged.
    "q07b_topk_heap" -> QueryDef(
      (s, dir) => {
        Windowed.topKPerGroupHeap(t(s, dir, "orders"),
            Seq("o_orderpriority"), negate(col("o_totalprice")),
            "o_orderkey", 3, rankCol = "rnk")
          .select("o_orderpriority", "rnk", "o_orderkey", "o_totalprice")
          .orderBy("o_orderpriority", "rnk")
      },
      Some("""SELECT o_orderpriority, CAST(rnk AS INT) AS rnk, o_orderkey, o_totalprice FROM (
        SELECT o_orderpriority, o_orderkey, o_totalprice,
          ROW_NUMBER() OVER (PARTITION BY o_orderpriority
            ORDER BY o_totalprice DESC, o_orderkey) AS rnk
        FROM orders) WHERE rnk <= 3
        ORDER BY o_orderpriority, rnk""")),

    // ---- A9/W1: gap detection ------------------------------------------
    "q08_gap_detect" -> QueryDef(
      (s, dir) => {
        val g = Windowed.gaps(t(s, dir, "events"), Seq("user_id"), "ts", 1800.0)
        g.groupBy("user_id")
          .agg(count(lit(1)).as("n_gaps"),
            max(col("gap_sec")).as("max_gap_sec"))
          .orderBy("user_id")
      },
      Some(s"""$EvCte, l AS (
        SELECT user_id, ts, lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev
        FROM ev),
        g AS (SELECT user_id,
          CAST(epoch_us(ts) - epoch_us(prev) AS DOUBLE)/1e6 AS gap_sec
          FROM l WHERE prev IS NOT NULL
          AND CAST(epoch_us(ts) - epoch_us(prev) AS DOUBLE)/1e6 > 1800.0)
        SELECT user_id, COUNT(*) AS n_gaps, MAX(gap_sec) AS max_gap_sec
        FROM g GROUP BY user_id ORDER BY user_id""")),

    // ---- rollup ---------------------------------------------------------
    "q09_rollup" -> QueryDef(
      (s, dir) => {
        t(s, dir, "lineitem")
          .rollup("l_returnflag", "l_linestatus")
          .agg(
            grouping(col("l_returnflag")).cast("int").as("g_rf"),
            grouping(col("l_linestatus")).cast("int").as("g_ls"),
            count(lit(1)).as("n"),
            dsum(col("l_quantity")).as("sum_qty"))
          .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))
      },
      Some("""SELECT l_returnflag, l_linestatus,
        CAST(GROUPING(l_returnflag) AS INT) AS g_rf,
        CAST(GROUPING(l_linestatus) AS INT) AS g_ls,
        COUNT(*) AS n,
        CAST(SUM(CAST(l_quantity AS DECIMAL(30,2))) AS DOUBLE) AS sum_qty
        FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""")),

    // ---- cube -----------------------------------------------------------
    "q10_cube" -> QueryDef(
      (s, dir) => {
        t(s, dir, "orders")
          .cube("o_orderstatus", "o_orderpriority")
          .agg(
            grouping(col("o_orderstatus")).cast("int").as("g_st"),
            grouping(col("o_orderpriority")).cast("int").as("g_pr"),
            count(lit(1)).as("n"),
            dsum(col("o_totalprice")).as("sum_price"))
          .orderBy(asc_nulls_first("o_orderstatus"),
            asc_nulls_first("o_orderpriority"))
      },
      Some("""SELECT o_orderstatus, o_orderpriority,
        CAST(GROUPING(o_orderstatus) AS INT) AS g_st,
        CAST(GROUPING(o_orderpriority) AS INT) AS g_pr,
        COUNT(*) AS n,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE) AS sum_price
        FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
        ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""")),

    // ---- distinct counting ---------------------------------------------
    "q11_distinct" -> QueryDef(
      (s, dir) => {
        t(s, dir, "lineitem").agg(
          countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_suppkey")).as("n_supps"),
          countDistinct(col("l_orderkey")).as("n_orders"),
          countDistinct(col("l_returnflag"), col("l_linestatus")).as("n_flag_status"))
      },
      Some("""SELECT COUNT(DISTINCT l_partkey) AS n_parts,
        COUNT(DISTINCT l_suppkey) AS n_supps,
        COUNT(DISTINCT l_orderkey) AS n_orders,
        COUNT(DISTINCT (l_returnflag, l_linestatus)) AS n_flag_status
        FROM lineitem""")),

    // ---- set operations -------------------------------------------------
    "q12_setops" -> QueryDef(
      (s, dir) => {
        val cust = t(s, dir, "customer")
        val ord = t(s, dir, "orders")
        val a = cust.filter(col("c_mktsegment") === "BUILDING")
          .select(col("c_custkey").as("k"))
        val b = ord.filter(col("o_totalprice") > 150000.0)
          .select(col("o_custkey").as("k")).distinct()
        val nInter = a.intersect(b).agg(count(lit(1)).as("n_intersect"))
        val nExcept = a.except(b).agg(count(lit(1)).as("n_except"))
        val nUnion = a.union(b).distinct().agg(count(lit(1)).as("n_union"))
        nInter.crossJoin(nExcept).crossJoin(nUnion)
      },
      Some("""WITH a AS (SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'BUILDING'),
        b AS (SELECT DISTINCT o_custkey AS k FROM orders WHERE o_totalprice > 150000.0)
        SELECT
          (SELECT COUNT(*) FROM (SELECT * FROM a INTERSECT SELECT * FROM b)) AS n_intersect,
          (SELECT COUNT(*) FROM (SELECT * FROM a EXCEPT SELECT * FROM b)) AS n_except,
          (SELECT COUNT(*) FROM (SELECT * FROM a UNION SELECT * FROM b)) AS n_union""")),

    // ---- W: running total + rank within partition ----------------------
    "q13_window_running" -> QueryDef(
      (s, dir) => {
        val ord = t(s, dir, "orders")
        val w = Window.partitionBy("o_custkey")
          .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
        ord.select(
            col("o_custkey"), col("o_orderkey"),
            rank().over(w).as("rnk"),
            sum(col("o_totalprice").cast(DecimalType(30, 2)))
              .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
              .cast("double").as("running_total"))
          .orderBy("o_custkey", "o_orderkey")
      },
      Some("""SELECT o_custkey, o_orderkey,
        CAST(RANK() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS INT) AS rnk,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(30,2)))
          OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_total
        FROM orders ORDER BY o_custkey, o_orderkey""")),

    // ---- O1/P5: global sort + limit ------------------------------------
    "q14_order_limit" -> QueryDef(
      (s, dir) => {
        t(s, dir, "orders")
          .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
          .limit(15)
          .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
      },
      Some("""SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
        FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 15""")),

    // ---- F6: string functions ------------------------------------------
    "q15_string_funcs" -> QueryDef(
      (s, dir) => {
        t(s, dir, "part")
          .withColumn("name_head", upper(substring_index(col("p_name"), " ", 1)))
          .withColumn("brand_num",
            regexp_extract(col("p_brand"), "[0-9]+", 0).cast("int"))
          .groupBy("name_head")
          .agg(count(lit(1)).as("n"),
            max(col("brand_num")).as("max_brand"),
            min(length(col("p_name"))).as("min_name_len"))
          .orderBy("name_head")
      },
      Some("""SELECT UPPER(split_part(p_name, ' ', 1)) AS name_head,
        COUNT(*) AS n,
        MAX(CAST(regexp_extract(p_brand, '[0-9]+') AS INT)) AS max_brand,
        CAST(MIN(LENGTH(p_name)) AS INT) AS min_name_len
        FROM part GROUP BY 1 ORDER BY 1""")),

    // ---- F9/P2: date functions -----------------------------------------
    "q16_date_funcs" -> QueryDef(
      (s, dir) => {
        t(s, dir, "orders")
          .withColumn("month", date_format(col("o_orderdate"), "yyyy-MM"))
          .withColumn("yr", year(col("o_orderdate")))
          .groupBy("yr", "month")
          .agg(count(lit(1)).as("n_orders"),
            dsum(col("o_totalprice")).as("revenue"))
          .orderBy("yr", "month")
      },
      Some("""SELECT CAST(EXTRACT(year FROM o_orderdate) AS INT) AS yr,
        strftime(o_orderdate, '%Y-%m') AS month,
        COUNT(*) AS n_orders,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE) AS revenue
        FROM orders GROUP BY 1, 2 ORDER BY 1, 2""")),

    // ---- O4: pivot ------------------------------------------------------
    "q17_pivot" -> QueryDef(
      (s, dir) => {
        val pris = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
        t(s, dir, "orders")
          .groupBy("o_orderstatus")
          .pivot("o_orderpriority", pris)
          .count()
          .na.fill(0)
          .orderBy("o_orderstatus")
      },
      Some("""SELECT o_orderstatus,
        COUNT(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 END) AS "1-URGENT",
        COUNT(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 END) AS "2-HIGH",
        COUNT(CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 END) AS "3-MEDIUM",
        COUNT(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 1 END) AS "4-NOT SPECIFIED",
        COUNT(CASE WHEN o_orderpriority = '5-LOW' THEN 1 END) AS "5-LOW"
        FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""")),

    // ---- J2: as-of (backward) join -------------------------------------
    // For each click event: the value of the user's most recent purchase
    // at-or-before the click (reference nearest-datetime alignment,
    // plots.py:76-77, implemented shuffle-once via union+window).
    "q18_asof_join" -> QueryDef(
      (s, dir) => {
        val ev = t(s, dir, "events")
        val clicks = ev.filter(col("event_type") === "click")
          .select("event_id", "ts", "user_id")
        val purchases = ev.filter(col("event_type") === "purchase")
          .groupBy("user_id", "ts").agg(max("value").as("purchase_value"))
        AsOfJoin.backward(clicks, purchases,
            keys = Seq("user_id"), leftTs = "ts", rightTs = "ts",
            valueCols = Seq("purchase_value"))
          .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("ts_us"),
            coalesce(col("purchase_value"), lit(-1.0)).as("last_purchase"))
          .orderBy("event_id")
      },
      Some(s"""$EvCte SELECT c.event_id, c.user_id, epoch_us(c.ts) AS ts_us,
        COALESCE(
          (SELECT arg_max(p.value, p.ts) FROM ev p
           WHERE p.event_type = 'purchase' AND p.user_id = c.user_id
             AND p.ts <= c.ts), -1.0) AS last_purchase
        FROM ev c WHERE c.event_type = 'click' ORDER BY c.event_id""")),

    // ---- J2: BOUNDED backward as-of join (tolerance) -------------------
    // q18 with a 1-day tolerance: a purchase more than a day before the
    // click no longer matches (NULL -> -1), the pandas
    // merge_asof(tolerance=...) contract. An unbounded as-of against
    // calibration metadata silently joins stale values across sensor
    // gaps — this is the production form (VERDICT r7 #3). Same one-shuffle
    // union+window plan; the bound is a per-row predicate on the filled
    // match, not an extra join.
    "q18b_asof_tolerance" -> QueryDef(
      (s, dir) => {
        val ev = t(s, dir, "events")
        val clicks = ev.filter(col("event_type") === "click")
          .select("event_id", "ts", "user_id")
        val purchases = ev.filter(col("event_type") === "purchase")
          .groupBy("user_id", "ts").agg(max("value").as("purchase_value"))
        AsOfJoin.backward(clicks, purchases,
            keys = Seq("user_id"), leftTs = "ts", rightTs = "ts",
            valueCols = Seq("purchase_value"),
            tolerance = Some(86400000000L))
          .select(col("event_id"), col("user_id"),
            unix_micros(col("ts")).as("ts_us"),
            coalesce(col("purchase_value"), lit(-1.0)).as("last_purchase"))
          .orderBy("event_id")
      },
      Some(s"""$EvCte SELECT c.event_id, c.user_id, epoch_us(c.ts) AS ts_us,
        COALESCE(
          (SELECT arg_max(p.value, p.ts) FROM ev p
           WHERE p.event_type = 'purchase' AND p.user_id = c.user_id
             AND p.ts <= c.ts
             AND epoch_us(c.ts) - epoch_us(p.ts) <= 86400000000), -1.0)
          AS last_purchase
        FROM ev c WHERE c.event_type = 'click' ORDER BY c.event_id""")),

    // ---- J2/W3: NEAREST as-of join -------------------------------------
    // The reference's actual idiom is method='nearest' (plots.py:76-77,
    // forensic/3gpp cell 3): right row minimizing |leftTs - rightTs|,
    // backward winning ties (pandas lower-index preference). The oracle
    // pins tie/bounds semantics via a composite arg_min ordering:
    // 2*|delta| + forward-flag (unique per candidate; backward sorts first
    // on equal distance).
    "q44_asof_nearest" -> QueryDef(
      (s, dir) => {
        val ev = t(s, dir, "events")
        val clicks = ev.filter(col("event_type") === "click")
          .select("event_id", "ts", "user_id")
        val purchases = ev.filter(col("event_type") === "purchase")
          .groupBy("user_id", "ts").agg(max("value").as("purchase_value"))
        AsOfJoin.nearest(clicks, purchases,
            keys = Seq("user_id"), leftTs = "ts", rightTs = "ts",
            valueCol = "purchase_value")
          .select(col("event_id"), col("user_id"),
            unix_micros(col("ts")).as("ts_us"),
            coalesce(col("purchase_value"), lit(-1.0)).as("nearest_purchase"),
            coalesce(unix_micros(col("purchase_value_ts")), lit(-1L))
              .as("nearest_purchase_ts_us"))
          .orderBy("event_id")
      },
      Some(s"""$EvCte, p AS (SELECT user_id, ts, MAX(value) AS purchase_value
        FROM ev WHERE event_type = 'purchase' GROUP BY 1, 2)
        SELECT c.event_id, c.user_id, epoch_us(c.ts) AS ts_us,
          COALESCE((SELECT arg_min(p.purchase_value,
              2*ABS(epoch_us(p.ts) - epoch_us(c.ts)) +
              CASE WHEN p.ts > c.ts THEN 1 ELSE 0 END)
            FROM p WHERE p.user_id = c.user_id), -1.0) AS nearest_purchase,
          COALESCE((SELECT arg_min(epoch_us(p.ts),
              2*ABS(epoch_us(p.ts) - epoch_us(c.ts)) +
              CASE WHEN p.ts > c.ts THEN 1 ELSE 0 END)
            FROM p WHERE p.user_id = c.user_id), -1) AS nearest_purchase_ts_us
        FROM ev c WHERE c.event_type = 'click' ORDER BY c.event_id""")),

    // ---- J2/W3: BOUNDED nearest as-of join (tolerance) -----------------
    // q44 with a 1-day tolerance on |delta|: candidates beyond the bound
    // are disqualified BEFORE the nearest pick, so a click whose only
    // purchases are stale gets NULL -> -1 (pandas direction='nearest' +
    // tolerance). Same two union+window passes as q44.
    "q44b_asof_nearest_tolerance" -> QueryDef(
      (s, dir) => {
        val ev = t(s, dir, "events")
        val clicks = ev.filter(col("event_type") === "click")
          .select("event_id", "ts", "user_id")
        val purchases = ev.filter(col("event_type") === "purchase")
          .groupBy("user_id", "ts").agg(max("value").as("purchase_value"))
        AsOfJoin.nearest(clicks, purchases,
            keys = Seq("user_id"), leftTs = "ts", rightTs = "ts",
            valueCol = "purchase_value", tolerance = Some(86400000000L))
          .select(col("event_id"), col("user_id"),
            unix_micros(col("ts")).as("ts_us"),
            coalesce(col("purchase_value"), lit(-1.0)).as("nearest_purchase"),
            coalesce(unix_micros(col("purchase_value_ts")), lit(-1L))
              .as("nearest_purchase_ts_us"))
          .orderBy("event_id")
      },
      Some(s"""$EvCte, p AS (SELECT user_id, ts, MAX(value) AS purchase_value
        FROM ev WHERE event_type = 'purchase' GROUP BY 1, 2)
        SELECT c.event_id, c.user_id, epoch_us(c.ts) AS ts_us,
          COALESCE((SELECT arg_min(p.purchase_value,
              2*ABS(epoch_us(p.ts) - epoch_us(c.ts)) +
              CASE WHEN p.ts > c.ts THEN 1 ELSE 0 END)
            FROM p WHERE p.user_id = c.user_id
              AND ABS(epoch_us(p.ts) - epoch_us(c.ts)) <= 86400000000),
            -1.0) AS nearest_purchase,
          COALESCE((SELECT arg_min(epoch_us(p.ts),
              2*ABS(epoch_us(p.ts) - epoch_us(c.ts)) +
              CASE WHEN p.ts > c.ts THEN 1 ELSE 0 END)
            FROM p WHERE p.user_id = c.user_id
              AND ABS(epoch_us(p.ts) - epoch_us(c.ts)) <= 86400000000),
            -1) AS nearest_purchase_ts_us
        FROM ev c WHERE c.event_type = 'click' ORDER BY c.event_id""")),

    // ---- time-weighted linear interpolation (as-of both directions) ----
    // Each click gets the purchase value linearly interpolated between the
    // user's surrounding purchases (calibration-curve resampling shape);
    // series edges clamp to the lone neighbor. Two union+window passes,
    // one shuffle each (AsOfJoin.interpolate). The long/long delta ratio
    // makes the interpolated double identical across engines.
    "q58_interpolate" -> QueryDef(
      (s, dir) => {
        val ev = t(s, dir, "events")
        val clicks = ev.filter(col("event_type") === "click")
          .select("event_id", "ts", "user_id")
        val purchases = ev.filter(col("event_type") === "purchase")
          .groupBy("user_id", "ts").agg(max("value").as("pv"))
        AsOfJoin.interpolate(clicks, purchases,
            keys = Seq("user_id"), leftTs = "ts", rightTs = "ts",
            valueCol = "pv")
          .select(col("event_id"), col("user_id"),
            unix_micros(col("ts")).as("ts_us"),
            coalesce(col("pv_interp"), lit(-1.0)).as("interp_value"),
            col("pv_support").as("support"))
          .orderBy("event_id")
      },
      Some(s"""$EvCte, p AS (SELECT user_id, ts, MAX(value) AS pv
        FROM ev WHERE event_type = 'purchase' GROUP BY 1, 2),
        j AS (SELECT c.event_id, c.user_id, epoch_us(c.ts) AS ts_us,
          (SELECT MAX(epoch_us(p.ts)) FROM p
            WHERE p.user_id = c.user_id AND p.ts <= c.ts) AS tb,
          (SELECT arg_max(p.pv, epoch_us(p.ts)) FROM p
            WHERE p.user_id = c.user_id AND p.ts <= c.ts) AS vb,
          (SELECT MIN(epoch_us(p.ts)) FROM p
            WHERE p.user_id = c.user_id AND p.ts > c.ts) AS tf,
          (SELECT arg_min(p.pv, epoch_us(p.ts)) FROM p
            WHERE p.user_id = c.user_id AND p.ts > c.ts) AS vf
          FROM ev c WHERE c.event_type = 'click')
        SELECT event_id, user_id, ts_us,
          COALESCE(CASE
            WHEN tb IS NULL THEN vf
            WHEN tf IS NULL THEN vb
            ELSE vb + (vf - vb) * ((ts_us - tb) / (tf - tb)) END, -1.0)
            AS interp_value,
          CASE WHEN tb IS NULL AND tf IS NULL THEN 'none'
            WHEN tb IS NULL OR tf IS NULL THEN 'edge'
            WHEN tb = ts_us THEN 'exact'
            ELSE 'between' END AS support
        FROM j ORDER BY event_id""")),

    // ---- merge/upsert (MERGE INTO semantics on plain parquet) ----------
    // CDC apply: a deterministic change set (updates = keys % 10 == 0 at
    // 1.1x price, inserts = fresh negative keys for % 13 == 5, deletes =
    // keys % 97 == 3) merges onto orders via ONE full-outer join keyed on
    // the primary key — the engine-level shape of MERGE INTO when the
    // table format has no transaction log. Post-merge per-status decimal
    // checksums prove the apply.
    "q67_merge_upsert" -> QueryDef(
      (s, dir) => {
        val ord = t(s, dir, "orders")
        val chg = ord
          .filter(col("o_orderkey") % 10 === 0 || col("o_orderkey") % 13 === 5
            || col("o_orderkey") % 97 === 3)
          .select(
            when(col("o_orderkey") % 13 === 5, -col("o_orderkey"))
              .otherwise(col("o_orderkey")).as("key"),
            (col("o_totalprice") * 1.1).as("new_price"),
            col("o_orderstatus").as("new_status"),
            (col("o_orderkey") % 97 === 3).as("is_delete"))
        val base = ord.select(col("o_orderkey").as("key"),
          col("o_totalprice"), col("o_orderstatus"))
        base.join(chg, Seq("key"), "full_outer")
          .filter(col("is_delete").isNull || !col("is_delete"))
          .select(col("key"),
            coalesce(col("new_price"), col("o_totalprice")).as("price"),
            coalesce(col("o_orderstatus"), col("new_status")).as("status"))
          .groupBy("status")
          .agg(count(lit(1)).as("n"), dsum(col("price"), 6).as("sum_price"))
          .orderBy("status")
      },
      Some("""WITH chg AS (SELECT
          CASE WHEN o_orderkey % 13 = 5 THEN -o_orderkey ELSE o_orderkey END
            AS key,
          o_totalprice * 1.1 AS new_price,
          o_orderstatus AS new_status,
          (o_orderkey % 97 = 3) AS is_delete
          FROM orders
          WHERE o_orderkey % 10 = 0 OR o_orderkey % 13 = 5
            OR o_orderkey % 97 = 3),
        base AS (SELECT o_orderkey AS key, o_totalprice, o_orderstatus
          FROM orders),
        m AS (SELECT COALESCE(b.key, c.key) AS key,
            COALESCE(c.new_price, b.o_totalprice) AS price,
            COALESCE(b.o_orderstatus, c.new_status) AS status
          FROM base b FULL OUTER JOIN chg c ON b.key = c.key
          WHERE c.is_delete IS NULL OR NOT c.is_delete)
        SELECT status, COUNT(*) AS n,
          CAST(SUM(CAST(price AS DECIMAL(30,6))) AS DOUBLE) AS sum_price
        FROM m GROUP BY status ORDER BY status""")),

    // ---- SCD2 validity intervals (lead-window dimension build) ---------
    // Type-2 slowly-changing-dimension construction: each event opens a
    // state interval [ts, next event's ts) per user; the open interval has
    // NULL valid_to. One lead() window per user (single shuffle), then
    // per-(user, state) interval stats over a bounded user slice.
    "q68_scd2_intervals" -> QueryDef(
      (s, dir) => {
        val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        t(s, dir, "events")
          .filter(col("user_id") < 20)
          .withColumn("valid_to_us", unix_micros(lead(col("ts"), 1).over(w)))
          .select(col("user_id"), col("event_type"),
            unix_micros(col("ts")).as("valid_from_us"), col("valid_to_us"))
          .groupBy("user_id", "event_type")
          .agg(count(lit(1)).as("n_intervals"),
            sum(col("valid_to_us") - col("valid_from_us")).as("closed_dur_us"),
            sum(when(col("valid_to_us").isNull, 1L).otherwise(0L))
              .as("n_open"))
          .orderBy("user_id", "event_type")
      },
      Some(s"""$EvCte, i AS (SELECT user_id, event_type,
          epoch_us(ts) AS valid_from_us,
          epoch_us(lead(ts, 1) OVER (PARTITION BY user_id
            ORDER BY ts, event_id)) AS valid_to_us
          FROM ev WHERE user_id < 20)
        SELECT user_id, event_type, COUNT(*) AS n_intervals,
          CAST(SUM(valid_to_us - valid_from_us) AS BIGINT) AS closed_dur_us,
          CAST(SUM(CASE WHEN valid_to_us IS NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_open
        FROM i GROUP BY 1, 2 ORDER BY 1, 2""")),

    // ---- unpivot / melt (wide -> long) ---------------------------------
    // The inverse of q17's pivot: stack three measure columns into
    // ---- corpus interchange formats: JSONL + CSV round trips -----------
    // Corpora arrive as jsonl.gz / csv, not parquet. Each query writes
    // the documents table in that format, reads it back with an EXPLICIT
    // schema (inference is a second full scan — never at 100 TB), and
    // aggregates content checksums; the oracle computes the same from the
    // original parquet, so a hash match proves the write->read round trip
    // is byte-lossless through the format.
    "q98_jsonl_source" -> QueryDef(
      (s, dir) => {
        val docs = t(s, dir, "documents")
        // fixed path + overwrite (not createTempDirectory): repeated
        // bench/verify runs reuse one directory instead of accumulating
        // corpus-sized copies in /tmp (ADVICE r5)
        val tmp = java.nio.file.Paths.get(
          System.getProperty("java.io.tmpdir"), "graft_interchange_jsonl").toString
        docs.write.mode("overwrite").option("compression", "gzip").json(tmp)
        s.read.schema(docs.schema).json(tmp)
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(graft.operators.Dedup.md5Hash48(col("text"))).as("text_checksum"),
            sum(col("n_chars")).as("total_chars"))
          .orderBy("source")
      },
      Some("""SELECT source, COUNT(*) AS n_docs,
          CAST(SUM(CAST(('0x' || substr(md5(text), 1, 12)) AS BIGINT))
            AS BIGINT) AS text_checksum,
          CAST(SUM(n_chars) AS BIGINT) AS total_chars
        FROM documents GROUP BY source ORDER BY source""")),

    // CSV needs the options real corpora break without: multiLine (texts
    // contain newlines), RFC quote-escaping (quote doubled, not
    // backslashed), an explicit nullValue sentinel (the default ""
    // silently conflates NULL text with empty text on read-back),
    // quoteAll (so empty strings survive as quoted fields), and
    // ignore*WhiteSpace=false on WRITE (Spark's CSV writer TRIMS field
    // whitespace by default — a whitespace-only doc silently became
    // empty; caught by the null-text differential oracle run).
    "q99_csv_source" -> QueryDef(
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val tmp = java.nio.file.Paths.get(
          System.getProperty("java.io.tmpdir"), "graft_interchange_csv").toString
        docs.write.mode("overwrite")
          .option("header", "true").option("escape", "\"")
          .option("nullValue", "\\N").option("quoteAll", "true")
          .option("ignoreLeadingWhiteSpace", "false")
          .option("ignoreTrailingWhiteSpace", "false")
          .csv(tmp)
        s.read.schema(docs.schema)
          .option("header", "true").option("multiLine", "true")
          .option("escape", "\"").option("nullValue", "\\N")
          .csv(tmp)
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(graft.operators.Dedup.md5Hash48(col("text"))).as("text_checksum"),
            sum(col("n_chars")).as("total_chars"))
          .orderBy("source")
      },
      Some("""SELECT source, COUNT(*) AS n_docs,
          CAST(SUM(CAST(('0x' || substr(md5(text), 1, 12)) AS BIGINT))
            AS BIGINT) AS text_checksum,
          CAST(SUM(n_chars) AS BIGINT) AS total_chars
        FROM documents GROUP BY source ORDER BY source""")),

    // ---- F4 on the hash surface: whole-table tz localization -----------
    // TimeOps.localizeTimestamps (the reference's localize_timestamps,
    // util.py:63-83) projects every TimestampType column to local wall
    // clock. The UTC->America/New_York shift moves events across local
    // midnights, so grouping by the LOCAL date only matches if the
    // conversion is exact; wall-clock extremes are compared as formatted
    // strings (timestamp dtype drift discipline, s17). The oracle's
    // two-step timezone() is session-TimeZone-independent: the inner call
    // pins UTC interpretation, the outer pins the NY projection.
    "q100_tz_localize" -> QueryDef(
      (s, dir) => {
        val loc = graft.functions.TimeOps
          .localizeTimestamps(t(s, dir, "events"), "America/New_York")
        loc.groupBy(date_format(col("ts"), "yyyy-MM-dd").as("local_date"))
          .agg(count(lit(1)).as("n_events"),
            date_format(min(col("ts")), "yyyy-MM-dd HH:mm:ss")
              .as("first_local"),
            date_format(max(col("ts")), "yyyy-MM-dd HH:mm:ss")
              .as("last_local"))
          .orderBy("local_date")
      },
      Some("""WITH loc AS (SELECT
            timezone('America/New_York', timezone('UTC', CAST(ts AS TIMESTAMP)))
              AS lts FROM events)
        SELECT strftime(lts, '%Y-%m-%d') AS local_date,
          COUNT(*) AS n_events,
          strftime(MIN(lts), '%Y-%m-%d %H:%M:%S') AS first_local,
          strftime(MAX(lts), '%Y-%m-%d %H:%M:%S') AS last_local
        FROM loc GROUP BY 1 ORDER BY 1""")),

    // (metric, value) rows — Spark's native unpivot (codegen'd Expand,
    // no shuffle of its own), aggregated per metric with 1e-6
    // floor-scaled exact sums.
    "q69_unpivot" -> QueryDef(
      (s, dir) => {
        t(s, dir, "lineitem")
          .select("l_orderkey", "l_linenumber", "l_quantity", "l_discount",
            "l_tax")
          .unpivot(
            Array(col("l_orderkey"), col("l_linenumber")),
            Array(col("l_quantity"), col("l_discount"), col("l_tax")),
            "metric", "v")
          .groupBy("metric")
          .agg(count(lit(1)).as("n"),
            sum(floor(col("v") * 1e6).cast("long")).as("sum_v6"))
          .orderBy("metric")
      },
      Some("""WITH u AS (
          SELECT 'l_quantity' AS metric, l_quantity AS v FROM lineitem
          UNION ALL
          SELECT 'l_discount', l_discount FROM lineitem
          UNION ALL
          SELECT 'l_tax', l_tax FROM lineitem)
        SELECT metric, COUNT(*) AS n,
          CAST(SUM(CAST(FLOOR(v * 1e6) AS BIGINT)) AS BIGINT) AS sum_v6
        FROM u GROUP BY metric ORDER BY metric""")),

    // ---- funnel conversion analysis ------------------------------------
    // First-occurrence ordered funnel view -> click -> purchase per user,
    // rolled up to market segment: stage k is reached when the first
    // occurrences are strictly ordered (v < c < p). ONE aggregation pass
    // over events (min-ts per type via conditional aggs), then a broadcast
    // dimension join — the event table never shuffles twice. A strictly-
    // sequential funnel (each stage after the PREVIOUS stage's event)
    // would chain one conditional-min pass per stage, same shapes.
    "q65_funnel" -> QueryDef(
      (s, dir) => {
        val perUser = t(s, dir, "events")
          .groupBy("user_id")
          .agg(
            min(when(col("event_type") === "view", unix_micros(col("ts"))))
              .as("v"),
            min(when(col("event_type") === "click", unix_micros(col("ts"))))
              .as("c"),
            min(when(col("event_type") === "purchase", unix_micros(col("ts"))))
              .as("p"))
          .withColumn("stage",
            when(col("v").isNull, 0)
              .when(col("c").isNull || col("c") <= col("v"), 1)
              .when(col("p").isNull || col("p") <= col("c"), 2)
              .otherwise(3))
        val dim = t(s, dir, "customer")
          .select(col("c_custkey"), col("c_mktsegment"))
        perUser.join(broadcast(dim), col("user_id") === col("c_custkey"))
          .groupBy(col("c_mktsegment").as("segment"))
          .agg(count(lit(1)).as("n_users"),
            sum(when(col("stage") >= 1, 1L).otherwise(0L)).as("n_viewed"),
            sum(when(col("stage") >= 2, 1L).otherwise(0L)).as("n_clicked"),
            sum(when(col("stage") >= 3, 1L).otherwise(0L)).as("n_purchased"))
          .withColumn("conversion",
            col("n_purchased").cast("double") / col("n_users"))
          .orderBy("segment")
      },
      Some(s"""$EvCte, u AS (SELECT user_id,
          MIN(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) AS v,
          MIN(CASE WHEN event_type = 'click' THEN epoch_us(ts) END) AS c,
          MIN(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS p
          FROM ev GROUP BY user_id),
        st AS (SELECT user_id,
          CASE WHEN v IS NULL THEN 0
            WHEN c IS NULL OR c <= v THEN 1
            WHEN p IS NULL OR p <= c THEN 2
            ELSE 3 END AS stage FROM u),
        j AS (SELECT st.stage, cu.c_mktsegment AS segment
          FROM st JOIN customer cu ON st.user_id = cu.c_custkey)
        SELECT segment, COUNT(*) AS n_users,
          CAST(SUM(CASE WHEN stage >= 1 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_viewed,
          CAST(SUM(CASE WHEN stage >= 2 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_clicked,
          CAST(SUM(CASE WHEN stage >= 3 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_purchased,
          CAST(SUM(CASE WHEN stage >= 3 THEN 1 ELSE 0 END) AS DOUBLE)
            / COUNT(*) AS conversion
        FROM j GROUP BY segment ORDER BY segment""")),

    // ---- quantile binning (decile discretization) ----------------------
    // ntile(10) per event type over (value, event_id) — the feature-
    // discretization shape; per-bin count and value bounds. The sort is
    // the inherent cost; ties break on event_id, and NULLS LAST is spelled
    // out on both sides (Spark ASC defaults NULLS FIRST, DuckDB NULLS
    // LAST), so the binning is total-order deterministic in both engines.
    "q66_quantile_bins" -> QueryDef(
      (s, dir) => {
        t(s, dir, "events")
          .withColumn("decile", ntile(10).over(Window
            .partitionBy("event_type")
            .orderBy(col("value").asc_nulls_last, col("event_id"))))
          .groupBy("event_type", "decile")
          .agg(count(lit(1)).as("n"),
            round(min("value"), 6).as("lo"),
            round(max("value"), 6).as("hi"))
          .orderBy("event_type", "decile")
      },
      Some(s"""$EvCte, d AS (SELECT event_type, value,
          CAST(ntile(10) OVER (PARTITION BY event_type
            ORDER BY value ASC NULLS LAST, event_id) AS INT) AS decile
          FROM ev)
        SELECT event_type, decile, COUNT(*) AS n,
          ROUND(MIN(value), 6) AS lo, ROUND(MAX(value), 6) AS hi
        FROM d GROUP BY 1, 2 ORDER BY 1, 2""")),

    // ---- OLS trend fit (sufficient statistics) -------------------------
    // Per event type: least-squares slope/intercept of value vs days since
    // 2024-01-01 — one partial-aggregable pass over decimal-exact
    // (n, Σx, Σy, Σxy, Σx²) (operators/Regression.scala). x is origin-
    // shifted (slope-invariant) so x² stays small.
    "q63_trend_fit" -> QueryDef(
      (s, dir) => {
        import graft.operators.Regression
        val ev = t(s, dir, "events")
          .withColumn("x",
            (unix_micros(col("ts")) - 1704067200000000L) / 86400000000.0)
        val st = Regression.sufficientStats(ev, Seq("event_type"),
          col("x"), col("value"))
        st.select(col("event_type"), col("n"),
            round(Regression.slope, 9).as("slope"),
            round(Regression.intercept(Regression.slope), 9).as("intercept"))
          .orderBy("event_type")
      },
      Some(s"""$EvCte, p AS (SELECT event_type,
          (epoch_us(ts) - 1704067200000000) / 86400000000.0 AS x,
          value AS y FROM ev),
        st AS (SELECT event_type, ${graft.operators.Regression.StatsSql}
          FROM p GROUP BY event_type)
        SELECT event_type, n,
          ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 9) AS slope,
          ROUND((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 9)
            AS intercept
        FROM st ORDER BY event_type""")),

    // ---- Pearson correlation (same sufficient statistics) --------------
    // Per return flag: correlation and regression slope of extended price
    // on quantity, from the one-pass decimal-exact stats. Spark's builtin
    // corr() is partition-order-dependent; this formulation hash-matches.
    "q64_correlation" -> QueryDef(
      (s, dir) => {
        import graft.operators.Regression
        val st = Regression.sufficientStats(t(s, dir, "lineitem"),
          Seq("l_returnflag"), col("l_quantity"), col("l_extendedprice"))
        st.select(col("l_returnflag"), col("n"),
            round(Regression.pearson, 9).as("corr_qty_price"),
            round(Regression.slope, 9).as("price_per_qty"))
          .orderBy("l_returnflag")
      },
      Some(s"""WITH p AS (SELECT l_returnflag,
          CAST(l_quantity AS DOUBLE) AS x,
          CAST(l_extendedprice AS DOUBLE) AS y FROM lineitem),
        st AS (SELECT l_returnflag, ${graft.operators.Regression.StatsSql}
          FROM p GROUP BY l_returnflag)
        SELECT l_returnflag, n,
          ROUND((n * sxy - sx * sy) /
            sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 9)
            AS corr_qty_price,
          ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 9)
            AS price_per_qty
        FROM st ORDER BY l_returnflag""")),

    // ---- robust outlier detection (median + MAD) -----------------------
    // Per event type: |value - median| > 3.5 * MAD flags anomalies without
    // assuming normality (RobustStats.madOutliers — exact interpolating
    // percentiles, matching DuckDB's quantile_cont). Median/MAD round to
    // 1e-6 for display; the outlier cut uses the unrounded stats in both
    // engines.
    "q62_mad_outliers" -> QueryDef(
      (s, dir) => {
        RobustStats.madOutliers(t(s, dir, "events"),
            Seq("event_type"), "value", thresh = 3.5)
          .select(col("event_type"), col("n"),
            round(col("median"), 6).as("median_r6"),
            round(col("mad"), 6).as("mad_r6"),
            col("n_outliers"),
            (col("n_outliers").cast("double") / col("n")).as("outlier_frac"))
          .orderBy("event_type")
      },
      Some(s"""$EvCte, m AS (SELECT event_type,
          quantile_cont(value, 0.5) AS med FROM ev GROUP BY 1),
        d AS (SELECT ev.event_type, ev.value, m.med,
            ABS(ev.value - m.med) AS ad
          FROM ev JOIN m USING (event_type)),
        md AS (SELECT event_type, quantile_cont(ad, 0.5) AS mad
          FROM d GROUP BY 1)
        SELECT d.event_type, COUNT(*) AS n,
          ROUND(MIN(d.med), 6) AS median_r6,
          ROUND(MIN(md.mad), 6) AS mad_r6,
          CAST(SUM(CASE WHEN d.ad > md.mad * 3.5 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_outliers,
          CAST(SUM(CASE WHEN d.ad > md.mad * 3.5 THEN 1 ELSE 0 END)
            AS DOUBLE) / COUNT(*) AS outlier_frac
        FROM d JOIN md USING (event_type)
        GROUP BY d.event_type ORDER BY d.event_type""")),

    // ---- Z-order layout (multi-column data skipping) -------------------
    // Morton-interleave (l_partkey, l_suppkey), bucket rows by the top 4
    // z bits, and report per-bucket min/max ranges on BOTH keys plus the
    // skipping volume (range product): the number a lakehouse writer
    // minimizes when it z-orders files so scans can prune on either key.
    // The z-value is codegen'd shift/mask arithmetic (operators/ZOrder),
    // replayed bit-for-bit by the oracle.
    "q60_zorder_layout" -> QueryDef(
      (s, dir) => {
        import graft.operators.ZOrder
        t(s, dir, "lineitem")
          .select(col("l_partkey"), col("l_suppkey"),
            ZOrder.zValue2(col("l_partkey"), col("l_suppkey"), 16).as("z"))
          .withColumn("bucket", shiftright(col("z"), 28))
          .groupBy("bucket")
          .agg(count(lit(1)).as("n"),
            min("l_partkey").as("min_p"), max("l_partkey").as("max_p"),
            min("l_suppkey").as("min_s"), max("l_suppkey").as("max_s"))
          .withColumn("range_product",
            (col("max_p") - col("min_p") + 1) * (col("max_s") - col("min_s") + 1))
          .orderBy("bucket")
      },
      Some(s"""WITH z AS (SELECT l_partkey, l_suppkey,
          (${graft.operators.ZOrder.zValue2Sql("l_partkey", "l_suppkey", 16)})
            AS z
          FROM lineitem),
        b AS (SELECT l_partkey, l_suppkey, z >> 28 AS bucket FROM z)
        SELECT bucket, COUNT(*) AS n,
          MIN(l_partkey) AS min_p, MAX(l_partkey) AS max_p,
          MIN(l_suppkey) AS min_s, MAX(l_suppkey) AS max_s,
          (MAX(l_partkey) - MIN(l_partkey) + 1) *
            (MAX(l_suppkey) - MIN(l_suppkey) + 1) AS range_product
        FROM b GROUP BY bucket ORDER BY bucket""")),

    // ---- J2 via the custom Catalyst operator ---------------------------
    // Same query as q18, executed by the physical AsOfJoinExec
    // (LogicalPlan + Strategy + BinaryExecNode) instead of the union+window
    // formulation — the Catalyst extension is oracle-checked, not spec-only.
    // The strategy is injected at runtime so the driver's vanilla session
    // plans it too.
    "q46_asof_physical" -> QueryDef(
      (s, dir) => {
        graft.plans.GraftExtensions.installStrategy(s,
          graft.plans.AsOfJoinStrategy)
        val ev = t(s, dir, "events")
        val clicks = ev.filter(col("event_type") === "click")
          .select("event_id", "ts", "user_id")
        val purchases = ev.filter(col("event_type") === "purchase")
          .groupBy("user_id", "ts").agg(max("value").as("purchase_value"))
        graft.plans.AsOfJoinPhysical.backward(clicks, purchases,
            keys = Seq("user_id"), leftTs = "ts", rightTs = "ts",
            valueCols = Seq("purchase_value"))
          .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("ts_us"),
            coalesce(col("purchase_value"), lit(-1.0)).as("last_purchase"))
          .orderBy("event_id")
      },
      Some(s"""$EvCte SELECT c.event_id, c.user_id, epoch_us(c.ts) AS ts_us,
        COALESCE(
          (SELECT arg_max(p.value, p.ts) FROM ev p
           WHERE p.event_type = 'purchase' AND p.user_id = c.user_id
             AND p.ts <= c.ts), -1.0) AS last_purchase
        FROM ev c WHERE c.event_type = 'click' ORDER BY c.event_id""")),

    // ---- J2 via the custom operator, bounded + strict ------------------
    // q46's physical AsOfJoinExec exercising BOTH production knobs: a
    // 1-day tolerance (stale match -> NULL, enforced per-row at emit
    // inside the one streaming merge pass) and allowExactMatches = false
    // (a purchase at EXACTLY the click timestamp no longer matches — the
    // advance loop stops one row sooner). Oracle replays both bounds.
    "q46b_asof_physical_tolerance" -> QueryDef(
      (s, dir) => {
        graft.plans.GraftExtensions.installStrategy(s,
          graft.plans.AsOfJoinStrategy)
        val ev = t(s, dir, "events")
        val clicks = ev.filter(col("event_type") === "click")
          .select("event_id", "ts", "user_id")
        val purchases = ev.filter(col("event_type") === "purchase")
          .groupBy("user_id", "ts").agg(max("value").as("purchase_value"))
        graft.plans.AsOfJoinPhysical.backward(clicks, purchases,
            keys = Seq("user_id"), leftTs = "ts", rightTs = "ts",
            valueCols = Seq("purchase_value"),
            tolerance = Some(86400000000L), allowExactMatches = false)
          .select(col("event_id"), col("user_id"),
            unix_micros(col("ts")).as("ts_us"),
            coalesce(col("purchase_value"), lit(-1.0)).as("last_purchase"))
          .orderBy("event_id")
      },
      Some(s"""$EvCte SELECT c.event_id, c.user_id, epoch_us(c.ts) AS ts_us,
        COALESCE(
          (SELECT arg_max(p.value, p.ts) FROM ev p
           WHERE p.event_type = 'purchase' AND p.user_id = c.user_id
             AND p.ts < c.ts
             AND epoch_us(c.ts) - epoch_us(p.ts) <= 86400000000), -1.0)
          AS last_purchase
        FROM ev c WHERE c.event_type = 'click' ORDER BY c.event_id""")),

    // ---- A1/A3: exact median / quantiles -------------------------------
    "q19_exact_median" -> QueryDef(
      (s, dir) => {
        // the two price quantiles share ONE buffered sort
        // (exactPercentiles array form) — a separate percentile agg per
        // quantile buffers the same column twice
        t(s, dir, "lineitem")
          .groupBy("l_returnflag")
          .agg(
            round(RobustStats.exactPercentile(col("l_quantity"), 0.5), 4)
              .as("median_qty"),
            RobustStats.exactPercentiles(col("l_extendedprice"),
              Seq(0.25, 0.75)).as("pq"),
            count(lit(1)).as("n"))
          .select(col("l_returnflag"), col("median_qty"),
            round(element_at(col("pq"), 1), 4).as("q25_price"),
            round(element_at(col("pq"), 2), 4).as("q75_price"),
            col("n"))
          .orderBy("l_returnflag")
      },
      Some("""SELECT l_returnflag,
        ROUND(quantile_cont(l_quantity, 0.5), 4) AS median_qty,
        ROUND(quantile_cont(l_extendedprice, 0.25), 4) AS q25_price,
        ROUND(quantile_cont(l_extendedprice, 0.75), 4) AS q75_price,
        COUNT(*) AS n
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // ---- A3: trimmed mean (midmean) ------------------------------------
    "q20_trimmed_mean" -> QueryDef(
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        val q = li.groupBy("l_returnflag").agg(
            RobustStats.exactPercentiles(col("l_extendedprice"),
              Seq(0.25, 0.75)).as("pq"))
          .select(col("l_returnflag"),
            element_at(col("pq"), 1).as("q_low"),
            element_at(col("pq"), 2).as("q_high"))
        li.join(broadcast(q), "l_returnflag")
          .filter(col("l_extendedprice") >= col("q_low") &&
            col("l_extendedprice") <= col("q_high"))
          .groupBy("l_returnflag")
          .agg(
            round(first(col("q_low")), 4).as("q_low"),
            round(first(col("q_high")), 4).as("q_high"),
            count(lit(1)).as("n_kept"),
            davg(col("l_extendedprice")).as("midmean_price"))
          .orderBy("l_returnflag")
      },
      Some("""WITH q AS (SELECT l_returnflag,
          quantile_cont(l_extendedprice, 0.25) AS q_low,
          quantile_cont(l_extendedprice, 0.75) AS q_high
          FROM lineitem GROUP BY l_returnflag)
        SELECT l.l_returnflag, ROUND(ANY_VALUE(q.q_low), 4) AS q_low,
          ROUND(ANY_VALUE(q.q_high), 4) AS q_high,
          COUNT(*) AS n_kept,
          CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,2))) AS DOUBLE)/COUNT(*)
            AS midmean_price
        FROM lineitem l JOIN q ON l.l_returnflag = q.l_returnflag
        WHERE l.l_extendedprice >= q.q_low AND l.l_extendedprice <= q.q_high
        GROUP BY l.l_returnflag ORDER BY l.l_returnflag""")),

    // ---- F1/A4: dB-space aggregation (envelope discipline) -------------
    // Hourly mean of events.value in linear envelope space (10^(v/20)),
    // back to dB. Uses the log-sum-exp shift — subtract the group max before
    // exponentiating — so the linear terms are <= 1: numerically stable at
    // any dB range AND exactly summable in decimal (order-independent).
    "q21_db_power_agg" -> QueryDef(
      (s, dir) => {
        val w = Window.partitionBy("hour_bin")
        t(s, dir, "events")
          .withColumn("hour_bin", floor(unix_micros(col("ts")) / 3600000000L))
          .withColumn("vmax", max(col("value")).over(w))
          .withColumn("lin", pow(lit(10.0), (col("value") - col("vmax")) / 20.0)
            .cast(DecimalType(38, 18)))
          .groupBy("hour_bin")
          .agg(count(lit(1)).as("n"),
            round(max(col("vmax")) + lit(20.0) *
              log10(sum(col("lin")).cast("double") / count(lit(1))), 6)
              .as("db_mean"))
          .orderBy("hour_bin")
      },
      Some(s"""$EvCte, b AS (
        SELECT CAST(FLOOR(epoch_us(ts) / 3600000000) AS BIGINT) AS hour_bin,
          value, MAX(value) OVER (PARTITION BY
            CAST(FLOOR(epoch_us(ts) / 3600000000) AS BIGINT)) AS vmax
        FROM ev)
        SELECT hour_bin, COUNT(*) AS n,
          ROUND(MAX(vmax) + 20.0 * LOG10(
            CAST(SUM(CAST(POW(10.0, (value - vmax)/20.0) AS DECIMAL(38,18)))
              AS DOUBLE) / COUNT(*)), 6) AS db_mean
        FROM b GROUP BY 1 ORDER BY 1""")),

    // ---- A4: downsample-by-factor --------------------------------------
    "q22_downsample" -> QueryDef(
      (s, dir) => {
        t(s, dir, "lineitem")
          .withColumn("bucket", floor(col("l_partkey") / 100).cast("long"))
          .groupBy("bucket")
          .agg(count(lit(1)).as("n"),
            dsum(col("l_quantity")).as("sum_qty"),
            davg(col("l_extendedprice")).as("avg_price"))
          .orderBy("bucket")
      },
      Some("""SELECT CAST(FLOOR(l_partkey / 100) AS BIGINT) AS bucket,
        COUNT(*) AS n,
        CAST(SUM(CAST(l_quantity AS DECIMAL(30,2))) AS DOUBLE) AS sum_qty,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,2))) AS DOUBLE)/COUNT(*)
          AS avg_price
        FROM lineitem GROUP BY 1 ORDER BY 1""")),

    // ---- A5: group-size equalization (the reference `limiter`) ---------
    // Take the first-N rows of every group where N = the smallest group's
    // size (colormap_plots.ipynb cell 2), N computed distributed and
    // broadcast — no driver collect.
    "q36_equalize_groups" -> QueryDef(
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        Windowed.equalizeGroups(li, Seq("l_returnflag"),
            Seq(col("l_orderkey").asc, col("l_linenumber").asc))
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("n_kept"),
            dsum(col("l_quantity")).as("sum_qty"),
            max(col("l_orderkey")).as("max_orderkey"))
          .orderBy("l_returnflag")
      },
      Some("""WITH lim AS (
          SELECT MIN(cnt) AS lim FROM (
            SELECT COUNT(*) AS cnt FROM lineitem GROUP BY l_returnflag)),
        ranked AS (
          SELECT l_returnflag, l_quantity, l_orderkey,
            ROW_NUMBER() OVER (PARTITION BY l_returnflag
              ORDER BY l_orderkey, l_linenumber) AS rn
          FROM lineitem)
        SELECT l_returnflag, COUNT(*) AS n_kept,
          CAST(SUM(CAST(l_quantity AS DECIMAL(30,2))) AS DOUBLE) AS sum_qty,
          MAX(l_orderkey) AS max_orderkey
        FROM ranked, lim WHERE rn <= lim
        GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // ---- grouping sets --------------------------------------------------
    "q38_grouping_sets" -> QueryDef(
      (s, dir) => {
        Tables.registerViews(s, dir)
        s.sql("""SELECT l_returnflag, l_linestatus,
          CAST(GROUPING(l_returnflag) AS INT) AS g_rf,
          CAST(GROUPING(l_linestatus) AS INT) AS g_ls,
          COUNT(*) AS n,
          CAST(SUM(CAST(l_quantity AS DECIMAL(30,2))) AS DOUBLE) AS sum_qty
          FROM lineitem
          GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus),
            (l_returnflag, l_linestatus))
          ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""")
      },
      Some("""SELECT l_returnflag, l_linestatus,
        CAST(GROUPING(l_returnflag) AS INT) AS g_rf,
        CAST(GROUPING(l_linestatus) AS INT) AS g_ls,
        COUNT(*) AS n,
        CAST(SUM(CAST(l_quantity AS DECIMAL(30,2))) AS DOUBLE) AS sum_qty
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus),
          (l_returnflag, l_linestatus))
        ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""")),

    // ---- window range frame (interval-based) ----------------------------
    // 30-day trailing order count per customer: RANGE frame over the date
    // axis, not a row frame.
    "q39_range_frame" -> QueryDef(
      (s, dir) => {
        // o_orderdate reads as TIMESTAMP_NTZ (parquet isAdjustedToUTC=false):
        // cast to TIMESTAMP (UTC session) then to epoch seconds for the
        // RANGE frame axis
        val w = Window.partitionBy("o_custkey")
          .orderBy(unix_seconds(col("o_orderdate").cast("timestamp")))
          .rangeBetween(-30L * 86400, 0)
        t(s, dir, "orders")
          .select(col("o_custkey"), col("o_orderkey"),
            count(lit(1)).over(w).as("n_trailing_30d"),
            sum(col("o_totalprice").cast(DecimalType(30, 2))).over(w)
              .cast("double").as("rev_trailing_30d"))
          .orderBy("o_custkey", "o_orderkey")
      },
      Some("""SELECT o_custkey, o_orderkey,
        COUNT(*) OVER w AS n_trailing_30d,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(30,2))) OVER w AS DOUBLE)
          AS rev_trailing_30d
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY epoch(o_orderdate)
          RANGE BETWEEN 2592000 PRECEDING AND CURRENT ROW)
        ORDER BY o_custkey, o_orderkey""")),

    // ---- analytic function family: lead/lag/first/last/ntile -----------
    "q40_analytics" -> QueryDef(
      (s, dir) => {
        val w = Window.partitionBy("o_custkey")
          .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
        val wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        t(s, dir, "orders")
          .select(col("o_custkey"), col("o_orderkey"),
            lead(col("o_orderkey"), 1).over(w).as("next_order"),
            lag(col("o_orderkey"), 1).over(w).as("prev_order"),
            first(col("o_orderkey")).over(wf).as("first_order"),
            last(col("o_orderkey")).over(wf).as("last_order"),
            ntile(4).over(w).as("quartile"))
          .orderBy("o_custkey", "o_orderkey")
      },
      Some("""SELECT o_custkey, o_orderkey,
        LEAD(o_orderkey, 1) OVER w AS next_order,
        LAG(o_orderkey, 1) OVER w AS prev_order,
        FIRST_VALUE(o_orderkey) OVER wf AS first_order,
        LAST_VALUE(o_orderkey) OVER wf AS last_order,
        CAST(NTILE(4) OVER w AS INT) AS quartile
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
          wf AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
            ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        ORDER BY o_custkey, o_orderkey""")),

    // ---- array functions over embedding vectors -------------------------
    "q41_array_funcs" -> QueryDef(
      (s, dir) => {
        t(s, dir, "embeddings")
          .filter(col("vec_id") < 50)
          .select(col("vec_id"),
            size(col("embedding")).as("dim"),
            col("embedding").getItem(0).cast("double").as("first"),
            floor(array_max(col("embedding")).cast("double") * 1e6).cast("long")
              .as("max_e6"),
            floor(array_min(col("embedding")).cast("double") * 1e6).cast("long")
              .as("min_e6"),
            floor(element_at(array_sort(col("embedding")), 32).cast("double") * 1e6)
              .cast("long").as("med_e6"))
          .orderBy("vec_id")
      },
      Some("""SELECT vec_id,
        CAST(len(embedding) AS INT) AS dim,
        CAST(embedding[1] AS DOUBLE) AS first,
        CAST(FLOOR(CAST(list_max(embedding) AS DOUBLE) * 1e6) AS BIGINT) AS max_e6,
        CAST(FLOOR(CAST(list_min(embedding) AS DOUBLE) * 1e6) AS BIGINT) AS min_e6,
        CAST(FLOOR(CAST(list_sort(embedding)[32] AS DOUBLE) * 1e6) AS BIGINT) AS med_e6
        FROM embeddings WHERE vec_id < 50 ORDER BY vec_id""")),

    // ---- the approximate scale path (SCALE.md): HLL distinct counts ----
    // approx_count_distinct merges HLL sketches associatively, so the
    // result is identical at any partitioning/cluster size.
    // percentile_approx is deliberately NOT here: its summaries are
    // partition-order-dependent.
    // Output discipline: the raw HLL estimates are sketch-implementation-
    // defined (no portable oracle can recompute them), so the compared row
    // carries the EXACT count (DuckDB-checkable) plus bounded-relative-
    // error flags asserting each sketch landed within 3 standard errors of
    // truth (rsd 0.05 -> 15%, rsd 0.01 -> 3%) — the row is now
    // self-validating AND hash-checkable; the estimates stay engine-side.
    "q43_approx_distinct" -> QueryDef(
      (s, dir) => {
        // exact and approx SEPARATELY, joined on the 3-row result: mixing
        // countDistinct with approx_count_distinct in one agg makes Spark
        // pre-group on (flag, partkey) and build the HLL sketches per
        // SUBGROUP — ~200k sketches x 16 KB at rsd=0.01 — before merging.
        // Split, each agg is the canonical partial+final plan: the approx
        // side keeps 3 sketches total, the exact side shuffles (flag,
        // partkey) pairs once.
        val li = t(s, dir, "lineitem")
        val exact = li.groupBy("l_returnflag")
          .agg(countDistinct(col("l_partkey")).as("exact_parts"))
        val approx = li.groupBy("l_returnflag")
          .agg(approx_count_distinct(col("l_partkey")).as("approx_parts"),
            approx_count_distinct(col("l_partkey"), rsd = 0.01)
              .as("approx_parts_1pct"))
        def errPct(est: org.apache.spark.sql.Column) =
          abs(est - col("exact_parts")).cast("double") /
            col("exact_parts") * 100.0
        exact.join(approx, "l_returnflag")
          .select(col("l_returnflag"), col("exact_parts"),
            (errPct(col("approx_parts")) <= 15.0).as("hll_ok"),
            (errPct(col("approx_parts_1pct")) <= 3.0).as("hll_1pct_ok"))
          .orderBy("l_returnflag")
      },
      Some("""SELECT l_returnflag,
        COUNT(DISTINCT l_partkey) AS exact_parts,
        TRUE AS hll_ok, TRUE AS hll_1pct_ok
        FROM lineitem GROUP BY 1 ORDER BY 1""")),

    // ---- F7-ish: JSON extraction ---------------------------------------
    "q34_json_extract" -> QueryDef(
      (s, dir) => {
        t(s, dir, "events")
          .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
            max(col("k")).as("max_k"))
          .orderBy("event_type")
      },
      Some(s"""$EvCte SELECT event_type, COUNT(*) AS n,
        CAST(SUM(CAST(props->>'$$.k' AS INT)) AS BIGINT) AS sum_k,
        CAST(MAX(CAST(props->>'$$.k' AS INT)) AS INT) AS max_k
        FROM ev GROUP BY event_type ORDER BY event_type""")),

    // ---- SQL-text endpoint: one ANSI string runs on BOTH engines -------
    // Registers the fixture tables as views and executes the identical SQL
    // text through spark.sql that the oracle runs through DuckDB.
    "q48_sql_endpoint" -> QueryDef(
      (s, dir) => {
        Tables.registerViews(s, dir)
        s.sql(SqlEndpointQuery)
      },
      Some(SqlEndpointQuery)),

    // ---- sessionization (streaming-shaped, batch formulation) ----------
    "q35_sessionize" -> QueryDef(
      (s, dir) => {
        val sess = Windowed.sessionize(t(s, dir, "events"),
          Seq("user_id"), "ts", 3600.0)
        sess.groupBy("user_id", "session_id")
          .agg(count(lit(1)).as("n_events"))
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_sessions"),
            max(col("n_events")).as("max_session_events"))
          .orderBy("user_id")
      },
      Some(s"""$EvCte, l AS (
        SELECT user_id, ts,
          CASE WHEN lag(ts) OVER w IS NULL
            OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 3600000000
            THEN 1 ELSE 0 END AS ns
        FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        s AS (SELECT user_id, SUM(ns) OVER (PARTITION BY user_id ORDER BY ts
          ROWS UNBOUNDED PRECEDING) AS sid FROM l),
        c AS (SELECT user_id, sid, COUNT(*) AS n FROM s GROUP BY 1, 2)
        SELECT user_id, COUNT(*) AS n_sessions, MAX(n) AS max_session_events
        FROM c GROUP BY user_id ORDER BY user_id""")),

    // ---- column profiling (data-quality pass over a table) -------------
    // One row per orders column: row/non-null/distinct counts plus typed
    // min/max (numeric as double, strings lexicographic). ONE aggregation
    // pass builds every stat (Spark plans the multi-distinct via Expand —
    // at 100 TB swap countDistinct for approx_count_distinct and the scan
    // count drops to 1 with no other change); the per-column rows are then
    // a stack() unpivot of that single row.
    "q84_data_profile" -> QueryDef(
      (s, dir) => {
        val o = t(s, dir, "orders")
        val num = Seq("o_orderkey", "o_custkey", "o_totalprice")
        val str = Seq("o_orderstatus", "o_orderpriority")
        val aggs = (num ++ str).flatMap { c =>
          Seq(count(col(c)).as(s"nn_$c"),
            countDistinct(col(c)).as(s"nd_$c")) ++
            (if (num.contains(c))
              Seq(min(col(c)).cast("double").as(s"mn_$c"),
                max(col(c)).cast("double").as(s"mx_$c"))
            else
              Seq(min(col(c)).as(s"ms_$c"), max(col(c)).as(s"xs_$c")))
        }
        val one = o.agg(count(lit(1)).as("n_rows"), aggs: _*)
        val stacked = (num.map { c =>
          s"'$c', nn_$c, nd_$c, mn_$c, mx_$c, " +
            "CAST(NULL AS STRING), CAST(NULL AS STRING)"
        } ++ str.map { c =>
          s"'$c', nn_$c, nd_$c, CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), " +
            s"ms_$c, xs_$c"
        }).mkString(", ")
        one.select(col("n_rows"), expr(
            s"stack(${num.size + str.size}, $stacked) AS " +
              "(column_name, n_nonnull, n_distinct, min_d, max_d, min_s, max_s)"))
          .select("column_name", "n_rows", "n_nonnull", "n_distinct",
            "min_d", "max_d", "min_s", "max_s")
          .orderBy("column_name")
      },
      Some("""WITH p AS (
          SELECT 'o_orderkey' AS column_name, COUNT(*) AS n_rows,
            COUNT(o_orderkey) AS n_nonnull,
            COUNT(DISTINCT o_orderkey) AS n_distinct,
            CAST(MIN(o_orderkey) AS DOUBLE) AS min_d,
            CAST(MAX(o_orderkey) AS DOUBLE) AS max_d,
            CAST(NULL AS VARCHAR) AS min_s, CAST(NULL AS VARCHAR) AS max_s
          FROM orders
          UNION ALL SELECT 'o_custkey', COUNT(*), COUNT(o_custkey),
            COUNT(DISTINCT o_custkey), CAST(MIN(o_custkey) AS DOUBLE),
            CAST(MAX(o_custkey) AS DOUBLE), NULL, NULL FROM orders
          UNION ALL SELECT 'o_totalprice', COUNT(*), COUNT(o_totalprice),
            COUNT(DISTINCT o_totalprice), MIN(o_totalprice),
            MAX(o_totalprice), NULL, NULL FROM orders
          UNION ALL SELECT 'o_orderstatus', COUNT(*), COUNT(o_orderstatus),
            COUNT(DISTINCT o_orderstatus), NULL, NULL,
            MIN(o_orderstatus), MAX(o_orderstatus) FROM orders
          UNION ALL SELECT 'o_orderpriority', COUNT(*), COUNT(o_orderpriority),
            COUNT(DISTINCT o_orderpriority), NULL, NULL,
            MIN(o_orderpriority), MAX(o_orderpriority) FROM orders)
        SELECT column_name, n_rows, n_nonnull, n_distinct, min_d, max_d,
          min_s, max_s
        FROM p ORDER BY column_name""")),

    // ---- constraint validation (deequ-style checks) --------------------
    // Declarative data-quality checks over the lake: primary-key
    // uniqueness, referential integrity (anti-join), and value-range
    // rules, each reduced to a violation count + verdict. Every check is
    // a partial-aggregable scan or an anti join — nothing driver-side.
    "q85_quality_checks" -> QueryDef(
      (s, dir) => {
        val o = t(s, dir, "orders")
        val l = t(s, dir, "lineitem")
        def check(name: String, violations: org.apache.spark.sql.DataFrame) =
          violations.select(lit(name).as("check_name"),
            col("n").cast("long").as("n_violations"))
        val pk = check("orders_pk_unique",
          o.agg((count(lit(1)) - countDistinct(col("o_orderkey"))).as("n")))
        val ok = o.select(col("o_orderkey"))
        val fk = check("lineitem_fk_orders",
          l.join(ok, l("l_orderkey") === ok("o_orderkey"), "left_anti")
            .agg(count(lit(1)).as("n")))
        val qty = check("quantity_in_1_50",
          l.filter(col("l_quantity") < 1 || col("l_quantity") > 50)
            .agg(count(lit(1)).as("n")))
        val disc = check("discount_in_0_0p5",
          l.filter(col("l_discount") < 0 || col("l_discount") > 0.5)
            .agg(count(lit(1)).as("n")))
        val price = check("totalprice_positive",
          o.filter(col("o_totalprice") <= 0).agg(count(lit(1)).as("n")))
        Seq(pk, fk, qty, disc, price).reduce(_.union(_))
          .withColumn("passed", col("n_violations") === 0L)
          .orderBy("check_name")
      },
      Some("""WITH c AS (
          SELECT 'orders_pk_unique' AS check_name,
            COUNT(*) - COUNT(DISTINCT o_orderkey) AS n_violations FROM orders
          UNION ALL SELECT 'lineitem_fk_orders', COUNT(*) FROM lineitem l
            WHERE NOT EXISTS (SELECT 1 FROM orders o
              WHERE o.o_orderkey = l.l_orderkey)
          UNION ALL SELECT 'quantity_in_1_50', COUNT(*) FROM lineitem
            WHERE l_quantity < 1 OR l_quantity > 50
          UNION ALL SELECT 'discount_in_0_0p5', COUNT(*) FROM lineitem
            WHERE l_discount < 0 OR l_discount > 0.5
          UNION ALL SELECT 'totalprice_positive', COUNT(*) FROM orders
            WHERE o_totalprice <= 0)
        SELECT check_name, CAST(n_violations AS BIGINT) AS n_violations,
          n_violations = 0 AS passed
        FROM c ORDER BY check_name""")),

    // ---- point-in-interval range join (session attribution) ------------
    // The batch range-join shape: click events open validity intervals
    // (SCD2-style, lead-closed, last one open) and purchases attribute to
    // the interval containing them. Plan: equi-join on user_id + interval
    // predicate — the shuffle is keyed, the range condition filters inside
    // the join, and per-user cardinality bounds the pair fan-out (AQE
    // splits skewed users).
    "q86_range_join" -> QueryDef(
      (s, dir) => {
        val ev = t(s, dir, "events").filter(col("user_id") < 30)
        val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        val clicks = ev.filter(col("event_type") === "click")
          .withColumn("vf", unix_micros(col("ts")))
          .withColumn("vt", unix_micros(lead(col("ts"), 1).over(w)))
          .select(col("user_id"), col("vf"), col("vt"))
        val buys = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), unix_micros(col("ts")).as("pts"))
        buys.join(clicks, Seq("user_id"))
          .filter(col("pts") >= col("vf") &&
            (col("vt").isNull || col("pts") < col("vt")))
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_attributed"),
            countDistinct(col("vf")).as("n_sessions_hit"),
            min(col("pts") - col("vf")).as("min_lag_us"))
          .orderBy("user_id")
      },
      Some(s"""$EvCte, c AS (SELECT user_id, epoch_us(ts) AS vf,
          epoch_us(lead(ts, 1) OVER (PARTITION BY user_id
            ORDER BY ts, event_id)) AS vt
          FROM ev WHERE user_id < 30 AND event_type = 'click'),
        b AS (SELECT user_id, epoch_us(ts) AS pts FROM ev
          WHERE user_id < 30 AND event_type = 'purchase'),
        j AS (SELECT b.user_id, b.pts, c.vf FROM b JOIN c
          ON b.user_id = c.user_id AND b.pts >= c.vf
            AND (c.vt IS NULL OR b.pts < c.vt))
        SELECT user_id, COUNT(*) AS n_attributed,
          COUNT(DISTINCT vf) AS n_sessions_hit,
          CAST(MIN(pts - vf) AS BIGINT) AS min_lag_us
        FROM j GROUP BY user_id ORDER BY user_id""")),

    // ---- distribution drift monitor (PSI) ------------------------------
    // Population Stability Index between a reference corpus slice
    // (doc_id % 2 = 0) and a "live" slice (% 2 = 1) over doc length:
    // the standard per-ingest drift check. 10 fixed-width bins over the
    // REFERENCE range (live clamps to edge bins so out-of-range mass is
    // visible), add-one smoothing, per-bin (p-q)*ln(p/q) floor-scaled to
    // exact longs. Shuffle is bin-count-bounded (operators/Drift.scala).
    "q105_drift_psi" -> QueryDef(
      (s, dir) => {
        import graft.operators.Drift
        val docs = t(s, dir, "documents")
        Drift.psiBins(docs.filter(col("doc_id") % 2 === 0),
          docs.filter(col("doc_id") % 2 === 1), "n_chars", bins = 10)
      },
      Some("""WITH r AS (SELECT CAST(n_chars AS DOUBLE) AS x
          FROM documents WHERE doc_id % 2 = 0 AND n_chars IS NOT NULL),
        lv AS (SELECT CAST(n_chars AS DOUBLE) AS x
          FROM documents WHERE doc_id % 2 = 1 AND n_chars IS NOT NULL),
        rng AS (SELECT MIN(x) AS lo, MAX(x) AS hi FROM r),
        b AS (SELECT CAST(unnest(range(0, 10)) AS INT) AS bin),
        rc AS (SELECT LEAST(GREATEST(CAST(FLOOR((x - lo)
              / ((hi - lo) / 10)) AS INT), 0), 9) AS bin,
            COUNT(*) AS ref_n
          FROM r CROSS JOIN rng GROUP BY 1),
        lc AS (SELECT LEAST(GREATEST(CAST(FLOOR((x - lo)
              / ((hi - lo) / 10)) AS INT), 0), 9) AS bin,
            COUNT(*) AS live_n
          FROM lv CROSS JOIN rng GROUP BY 1),
        n AS (SELECT (SELECT COUNT(*) FROM r) AS rn,
            (SELECT COUNT(*) FROM lv) AS lvn),
        j AS (SELECT b.bin, COALESCE(rc.ref_n, 0) AS ref_n,
            COALESCE(lc.live_n, 0) AS live_n
          FROM b LEFT JOIN rc USING (bin) LEFT JOIN lc USING (bin))
        SELECT bin, CAST(ref_n AS BIGINT) AS ref_n,
          CAST(live_n AS BIGINT) AS live_n,
          CAST(FLOOR(((ref_n + 1.0) / (rn + 10)
              - (live_n + 1.0) / (lvn + 10))
            * LN(((ref_n + 1.0) / (rn + 10))
              / ((live_n + 1.0) / (lvn + 10))) * 1e9) AS BIGINT) AS psi9
        FROM j CROSS JOIN n ORDER BY bin""")),

    // ---- distribution drift, bin-free (Kolmogorov-Smirnov) -------------
    // The sup-distance between the two empirical CDFs of doc length —
    // PSI's bin-free complement (no grid to choose, shape changes inside
    // a bin still register). Both running counts ride ONE distributed
    // prefix sum (packed ref*2^31 + live longs, unpacked with DIV/MOD);
    // per distinct value the quantized CDF gap |cr*1e9 DIV nr - cl*1e9
    // DIV nl| is an exact integer, so ks9 replays bit-for-bit. Totals
    // come from the LAST cumsum row — no separate count() actions.
    "q109_drift_ks" -> QueryDef(
      (s, dir) => {
        import graft.operators.Drift
        val docs = t(s, dir, "documents")
        Drift.ks9(docs.filter(col("doc_id") % 2 === 0).select("n_chars"),
          docs.filter(col("doc_id") % 2 === 1).select("n_chars"), "n_chars")
      },
      Some("""WITH u AS (
          SELECT n_chars AS v, 1 AS r, 0 AS l FROM documents
            WHERE doc_id % 2 = 0
          UNION ALL
          SELECT n_chars AS v, 0 AS r, 1 AS l FROM documents
            WHERE doc_id % 2 = 1),
        pv AS (SELECT v, SUM(r) AS rc, SUM(l) AS lc FROM u
          WHERE v IS NOT NULL GROUP BY v),
        c AS (SELECT CAST(SUM(rc) OVER (ORDER BY v) AS BIGINT) AS cr,
            CAST(SUM(lc) OVER (ORDER BY v) AS BIGINT) AS cl FROM pv),
        n AS (SELECT CAST(COALESCE(MAX(cr), 0) AS BIGINT) AS nr,
            CAST(COALESCE(MAX(cl), 0) AS BIGINT) AS nl FROM c),
        m AS (SELECT COALESCE(MAX(CASE WHEN nr > 0 AND nl > 0 THEN
              ABS(cr*1000000000//nr - cl*1000000000//nl) END), -1) AS g
          FROM c CROSS JOIN n)
        SELECT nr AS n_ref, nl AS n_live,
          CASE WHEN nr = 0 OR nl = 0 THEN -1 ELSE g END AS ks9
        FROM n CROSS JOIN m""")),

    // ---- categorical drift monitor (PSI over a domain mix) -------------
    // The categorical sibling of q105: PSI between the reference and live
    // slices over the `lang` mix — the "did my language/domain
    // composition shift" check. The spine is the top-3 REFERENCE
    // languages (ties lexicographic) plus the reserved __other bucket
    // absorbing the tail, so state is bounded at 4 rows regardless of
    // how long-tailed live gets; smoothing denominators use the actual
    // spine size, derived in-plan (operators/Drift.scala).
    "q107_drift_psi_categorical" -> QueryDef(
      (s, dir) => {
        import graft.operators.Drift
        val docs = t(s, dir, "documents")
        Drift.psiCategories(docs.filter(col("doc_id") % 2 === 0),
          docs.filter(col("doc_id") % 2 === 1), "lang", topB = 3)
      },
      Some("""WITH r AS (SELECT COALESCE(CAST(lang AS VARCHAR), '__other')
            AS c FROM documents WHERE doc_id % 2 = 0),
        lv AS (SELECT COALESCE(CAST(lang AS VARCHAR), '__other') AS c
          FROM documents WHERE doc_id % 2 = 1),
        rc0 AS (SELECT c, COUNT(*) AS n FROM r GROUP BY c),
        top AS (SELECT c FROM (SELECT c, ROW_NUMBER() OVER
            (ORDER BY n DESC, c) AS rk FROM rc0) WHERE rk <= 3),
        spine AS (SELECT DISTINCT cat FROM (SELECT c AS cat FROM top
          UNION ALL SELECT '__other')),
        rm AS (SELECT CASE WHEN c IN (SELECT c FROM top) THEN c
            ELSE '__other' END AS cat FROM r),
        lm AS (SELECT CASE WHEN c IN (SELECT c FROM top) THEN c
            ELSE '__other' END AS cat FROM lv),
        rcc AS (SELECT cat, COUNT(*) AS ref_n FROM rm GROUP BY cat),
        lcc AS (SELECT cat, COUNT(*) AS live_n FROM lm GROUP BY cat),
        j AS (SELECT s.cat, COALESCE(rcc.ref_n, 0) AS ref_n,
            COALESCE(lcc.live_n, 0) AS live_n
          FROM spine s LEFT JOIN rcc USING (cat) LEFT JOIN lcc USING (cat)),
        t AS (SELECT SUM(ref_n) AS rn, SUM(live_n) AS lvn,
            COUNT(*) AS b FROM j)
        SELECT cat, CAST(ref_n AS BIGINT) AS ref_n,
          CAST(live_n AS BIGINT) AS live_n,
          CAST(FLOOR(((ref_n + 1.0) / (rn + b)
              - (live_n + 1.0) / (lvn + b))
            * LN(((ref_n + 1.0) / (rn + b))
              / ((live_n + 1.0) / (lvn + b))) * 1e9) AS BIGINT) AS psi9
        FROM j CROSS JOIN t ORDER BY cat""")),

    // ---- snapshot diff (CDC between two table versions) ----------------
    // Change-data-capture over two deterministic "versions" of orders
    // (membership and mutation decided by md5 of the key): full-outer
    // join on the key classifies every row added / removed / changed /
    // unchanged. Prices compare as exact integer cents — no float
    // equality. One keyed shuffle; at 100 TB this is the standard
    // snapshot-reconciliation plan (or a zero-shuffle one on bucketed
    // snapshots).
    "q87_snapshot_diff" -> QueryDef(
      (s, dir) => {
        import graft.operators.Sampling
        val o = t(s, dir, "orders").select(col("o_orderkey"),
          col("o_totalprice"))
        val cents = floor(col("o_totalprice") * 100).cast("long")
        val oldSnap = o
          .filter(pmod(Sampling.hashUnit(col("o_orderkey"), "v1"), lit(10)) =!= 0)
          .select(col("o_orderkey").as("k"), cents.as("p_old"))
        val newSnap = o
          .filter(pmod(Sampling.hashUnit(col("o_orderkey"), "v2"), lit(10)) =!= 0)
          .select(col("o_orderkey").as("k"),
            when(pmod(Sampling.hashUnit(col("o_orderkey"), "chg"), lit(5)) === 0,
              floor(col("o_totalprice") * 110).cast("long"))
              .otherwise(cents).as("p_new"))
        oldSnap.join(newSnap, Seq("k"), "full_outer")
          .withColumn("status",
            when(col("p_old").isNull, "added")
              .when(col("p_new").isNull, "removed")
              .when(col("p_old") =!= col("p_new"), "changed")
              .otherwise("unchanged"))
          .groupBy("status").agg(count(lit(1)).as("n"))
          .orderBy("status")
      },
      Some("""WITH o AS (SELECT o_orderkey AS k, o_totalprice AS p
          FROM orders),
        h AS (SELECT k, p,
          CAST(('0x' || substr(md5(CAST(k AS VARCHAR) || '#v1'), 1, 12))
            AS BIGINT) % 1000000 AS h1,
          CAST(('0x' || substr(md5(CAST(k AS VARCHAR) || '#v2'), 1, 12))
            AS BIGINT) % 1000000 AS h2,
          CAST(('0x' || substr(md5(CAST(k AS VARCHAR) || '#chg'), 1, 12))
            AS BIGINT) % 1000000 AS hc
          FROM o),
        olds AS (SELECT k, CAST(FLOOR(p * 100) AS BIGINT) AS p_old FROM h
          WHERE h1 % 10 <> 0),
        news AS (SELECT k, CASE WHEN hc % 5 = 0
            THEN CAST(FLOOR(p * 110) AS BIGINT)
            ELSE CAST(FLOOR(p * 100) AS BIGINT) END AS p_new FROM h
          WHERE h2 % 10 <> 0),
        f AS (SELECT p_old, p_new FROM olds
          FULL OUTER JOIN news ON olds.k = news.k),
        st AS (SELECT CASE WHEN p_old IS NULL THEN 'added'
            WHEN p_new IS NULL THEN 'removed'
            WHEN p_old <> p_new THEN 'changed'
            ELSE 'unchanged' END AS status FROM f)
        SELECT status, COUNT(*) AS n FROM st
        GROUP BY status ORDER BY status""")),

    // ---- histogram-sketch quantiles (the percentile scale path) --------
    // q19's exact percentile buffers per-group values — fine for oracle
    // parity, wrong at 100 TB. This is the mergeable alternative: one
    // min/max pass, one 64-bin histogram aggregation (map-side combinable,
    // partition-invariant), then linear interpolation inside the target
    // bin. Unlike t-digest/approx_percentile the estimate is a closed-form
    // deterministic function of (min, max, bin counts) — so DuckDB replays
    // it exactly, which implementation-defined sketches can't do.
    "q88_hist_quantiles" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val nb = 64
        val x = t(s, dir, "lineitem").select(col("l_extendedprice").as("x"))
        val qvals = Seq(0.25, 0.5, 0.75, 0.95, 0.99)
        val mm = x.agg(min(col("x")).as("mn"), max(col("x")).as("mx")).head
        // empty input: no histogram — empty result of the right shape
        // (EmptyInputSpec) rather than a NULL min crash
        if (mm.isNullAt(0)) {
          qvals.toDF("q").withColumn("qbin", lit(0))
            .withColumn("estimate6", lit(0L)).limit(0)
        } else {
          val (mn, mx) = (mm.getDouble(0), mm.getDouble(1))
          // constant column: every quantile IS the constant (width-0
          // arithmetic below and in the oracle collapses to mn exactly)
          val width = (mx - mn) / nb
          // the histogram aggregation is the ONE distributed pass; the
          // 64-row result collects and quantile extraction is driver-side
          // scalar arithmetic (a distributed formulation re-scanned the
          // table 4x: join-reuse does not kick in across cum/tot/hit)
          val bins = x
            .withColumn("bin", if (width == 0) lit(0)
              else least(floor((col("x") - mn) / width), lit(nb - 1))
                .cast("int"))
            .groupBy("bin").agg(count(lit(1)).as("c"))
            .orderBy("bin")
            .collect().map(r => (r.getInt(0), r.getLong(1)))
          val n = bins.map(_._2).sum
          val cum = bins.scanLeft((0, 0L)) { case ((_, acc), (b, c)) =>
            (b, acc + c)
          }.drop(1)
          val rows = qvals.map { q =>
            val target = q * n
            val idx = cum.indexWhere(_._2 >= target)
            val (qbin, c) = (bins(idx)._1, bins(idx)._2)
            val cumPrev = cum(idx)._2 - c
            val est = mn + (qbin + (target - cumPrev) / c) * width
            (q, qbin, math.floor(est * 1e6).toLong)
          }
          rows.toDF("q", "qbin", "estimate6").orderBy("q")
        }
      },
      Some("""WITH x AS (SELECT l_extendedprice AS x FROM lineitem),
        mm AS (SELECT MIN(x) AS mn, MAX(x) AS mx,
          (MAX(x) - MIN(x)) / 64 AS width FROM x),
        b AS (SELECT CAST(CASE WHEN (SELECT width FROM mm) = 0 THEN 0
            ELSE LEAST(FLOOR((x - (SELECT mn FROM mm))
              / (SELECT width FROM mm)), 63) END AS INT) AS bin,
          COUNT(*) AS c FROM x GROUP BY 1),
        cum AS (SELECT bin, c,
          SUM(c) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cum,
          SUM(c) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) - c
            AS cum_prev FROM b),
        tot AS (SELECT SUM(c) AS n FROM b),
        qs AS (SELECT CAST(q AS DOUBLE) AS q FROM
          (VALUES (0.25), (0.5), (0.75), (0.95), (0.99)) AS t(q)),
        hit AS (SELECT q, MIN(bin) AS qbin FROM cum, tot, qs
          WHERE cum >= q * n GROUP BY q)
        SELECT hit.q, hit.qbin,
          CAST(FLOOR(((SELECT mn FROM mm) + (hit.qbin +
            (hit.q * (SELECT n FROM tot) - cum.cum_prev) / cum.c)
            * (SELECT width FROM mm)) * 1e6) AS BIGINT) AS estimate6
        FROM hit JOIN cum ON cum.bin = hit.qbin
        ORDER BY hit.q"""))
  )
}
