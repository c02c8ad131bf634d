package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import Q.{davg, dec2, dsum, one2}

/** Relational query inventory — SURVEY.md §2.3–§2.9 (+ batch-mode §2.10
  * windows) expressed Spark-first over the star-schema fixtures.
  *
  * Scale posture, applied throughout:
  *   - dimension tables (`nation`, `region`, `supplier`, `part`) are joined
  *     with an explicit `broadcast()` hint — at 100 TB the fact side never
  *     shuffles for these joins;
  *   - filters appear before joins/aggregations so Catalyst pushes them into
  *     the parquet scan (`PushedFilters` in explain);
  *   - top-k is `orderBy().limit(n)` → `TakeOrderedAndProject`, never a full
  *     sort; per-group top-k is a window `row_number` + filter;
  *   - no `collect()` anywhere — every query returns a distributed plan.
  *
  * Every query carries a colocated DuckDB oracle (names aliased identically
  * on both sides). Money aggregates use the exact-decimal-sum pattern from
  * [[Q.dsum]] so hashes match bit-for-bit.
  */
object Relational {

  /** TPC-H Q1-style pricing summary: filter → groupBy → multi-aggregate.
    * Two-phase HashAggregate (partial map-side combine) is automatic. */
  val q01PricingSummary = Q(
    "q01_pricing_summary",
    (s, dir) => {
      val l = Tables.lineitem(s, dir)
        .filter(col("l_shipdate") <= lit("1998-09-01").cast("timestamp"))
      l.groupBy("l_returnflag", "l_linestatus")
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          sum(dec2(col("l_extendedprice")) * (one2 - dec2(col("l_discount")))).cast("double").as("sum_disc_price"),
          sum(dec2(col("l_extendedprice")) * (one2 - dec2(col("l_discount"))) * (one2 + dec2(col("l_tax")))).cast("double").as("sum_charge"),
          davg(col("l_quantity")).as("avg_qty"),
          davg(col("l_extendedprice")).as("avg_price"),
          davg(col("l_discount")).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    },
    Some("""SELECT l_returnflag, l_linestatus,
      CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
      CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
      CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS sum_disc_price,
      CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2))) * (1 + CAST(l_tax AS DECIMAL(4,2)))) AS DOUBLE) AS sum_charge,
      CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / count(*) AS avg_qty,
      CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) / count(*) AS avg_price,
      CAST(sum(CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) / count(*) AS avg_disc,
      count(*) AS count_order
    FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-01'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus"""))

  /** TPC-H Q6-style selective filter + global aggregate. The three
    * predicates all push down to the parquet scan. */
  val q02RevenueForecast = Q(
    "q02_revenue_forecast",
    (s, dir) => {
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
          col("l_discount").between(0.05, 0.07) &&
          col("l_quantity") < 24)
        .agg(
          sum(dec2(col("l_extendedprice")) * dec2(col("l_discount"))).cast("double").as("revenue"),
          count(lit(1)).as("n_items"))
    },
    Some("""SELECT
      CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue,
      count(*) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24"""))

  /** Star-schema 4-way join: lineitem ⋈ orders ⋈ customer ⋈ broadcast(nation).
    * The two fact-side joins shuffle on their keys; the 25-row nation dim is
    * broadcast so the big side never moves for it. */
  val q03RevenueByNation = Q(
    "q03_revenue_by_nation",
    (s, dir) => {
      val o = Tables.orders(s, dir)
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
        .select("o_orderkey", "o_custkey")
      val l = Tables.lineitem(s, dir)
        .select("l_orderkey", "l_extendedprice", "l_discount")
      val c = Tables.customer(s, dir).select("c_custkey", "c_nationkey")
      val n = Tables.nation(s, dir).select("n_nationkey", "n_name")
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .groupBy("n_name")
        .agg(
          sum(dec2(col("l_extendedprice")) * (one2 - dec2(col("l_discount")))).cast("double").as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy(col("revenue").desc, col("n_name"))
    },
    Some("""SELECT n_name,
      CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
      count(*) AS n_items
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
    GROUP BY n_name
    ORDER BY revenue DESC, n_name"""))

  /** Left-semi join (EXISTS): orders having at least one heavy line item.
    * Semi-join keeps only the probe side — no row multiplication at scale. */
  val q04PrioritySemi = Q(
    "q04_priority_semi",
    (s, dir) => {
      val o = Tables.orders(s, dir)
      val heavy = Tables.lineitem(s, dir)
        .filter(col("l_quantity") > 45)
        .select("l_orderkey")
      o.join(heavy, o("o_orderkey") === heavy("l_orderkey"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("order_count"))
        .orderBy("o_orderpriority")
    },
    Some("""SELECT o_orderpriority, count(*) AS order_count
    FROM orders
    WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_quantity > 45)
    GROUP BY o_orderpriority ORDER BY o_orderpriority"""))

  /** Left-anti join (NOT EXISTS): customers with no finalized order. */
  val q05CustomersNoFinal = Q(
    "q05_customers_no_final",
    (s, dir) => {
      val c = Tables.customer(s, dir)
      val f = Tables.orders(s, dir)
        .filter(col("o_orderstatus") === "F")
        .select("o_custkey")
      c.join(f, c("c_custkey") === f("o_custkey"), "left_anti")
        .select("c_custkey", "c_name", "c_mktsegment")
        .orderBy("c_custkey")
    },
    Some("""SELECT c_custkey, c_name, c_mktsegment
    FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
    ORDER BY c_custkey"""))

  /** Per-group top-k via window row_number — the scale-safe "top 3 orders per
    * customer" (never a global sort; one shuffle on the partition key). */
  val q06TopOrdersPerCustomer = Q(
    "q06_top_orders_per_customer",
    (s, dir) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      Tables.orders(s, dir)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
        .orderBy("o_custkey", "rn")
    },
    Some("""SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
        CAST(row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rn
      FROM orders) WHERE rn <= 3
    ORDER BY o_custkey, rn"""))

  /** Aggregate-then-window: monthly revenue with month-over-month deltas.
    *
    * A naive `lag OVER (ORDER BY month)` is an unpartitioned window — Spark
    * moves the whole frame to one task (and warns). Harmless on a month-level
    * aggregate, but the scale-clean plan costs nothing extra: lag within a
    * year partition (parallel window), then fix up each year's first
    * existing month from a year-level carry frame (previous year-with-data's
    * last-month revenue) via a broadcast join. Identical semantics to the
    * global lag — previous *existing* month, month gaps included — with no
    * single-partition stage anywhere.
    */
  val q07MonthlyRevenueLag = Q(
    "q07_monthly_revenue_lag",
    (s, dir) => {
      val monthly = Tables.orders(s, dir)
        .groupBy(to_date(date_trunc("month", col("o_orderdate"))).as("month"))
        .agg(dsum(col("o_totalprice")).as("revenue"), count(lit(1)).as("n_orders"))
      val w = Window.partitionBy(year(col("month"))).orderBy("month")
      val withLag = monthly.withColumn("prev_revenue", lag("revenue", 1).over(w))
      // Last existing month's revenue per year, then for each year the most
      // recent earlier year-with-data's value (non-equi join over a frame
      // bounded by the calendar, never by data volume).
      val yearEnd = monthly
        .groupBy(year(col("month")).as("yr"))
        .agg(max_by(col("revenue"), col("month")).as("last_rev"))
      val carry = yearEnd.as("a")
        .join(yearEnd.as("b"), col("b.yr") < col("a.yr"))
        .groupBy(col("a.yr").as("yr"))
        .agg(max_by(col("b.last_rev"), col("b.yr")).as("carry_rev"))
      withLag
        .join(broadcast(carry), year(col("month")) === carry("yr"), "left")
        .withColumn("prev_revenue", coalesce(col("prev_revenue"), col("carry_rev")))
        .withColumn("delta", col("revenue") - col("prev_revenue"))
        .select("month", "revenue", "n_orders", "prev_revenue", "delta")
        .orderBy("month")
    },
    Some("""WITH monthly AS (
      SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
        CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        count(*) AS n_orders
      FROM orders GROUP BY 1)
    SELECT month, revenue, n_orders,
      lag(revenue, 1) OVER (ORDER BY month) AS prev_revenue,
      revenue - lag(revenue, 1) OVER (ORDER BY month) AS delta
    FROM monthly ORDER BY month"""))

  /** ROLLUP hierarchy totals. Subtotal rows are labeled with a COALESCE
    * sentinel instead of NULL so row ordering is engine-agnostic (Spark sorts
    * NULLS FIRST by default, DuckDB NULLS LAST). */
  val q08RollupPricing = Q(
    "q08_rollup_pricing",
    (s, dir) => {
      Tables.lineitem(s, dir)
        .rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n_rows"), dsum(col("l_quantity")).as("sum_qty"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
          col("n_rows"), col("sum_qty"))
        .orderBy("returnflag", "linestatus")
    },
    Some("""SELECT
      COALESCE(l_returnflag, 'ALL') AS returnflag,
      COALESCE(l_linestatus, 'ALL') AS linestatus,
      count(*) AS n_rows,
      CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
    FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
    ORDER BY returnflag, linestatus"""))

  /** CUBE over two order dimensions — all 4 grouping sets in one pass. */
  val q09CubeOrders = Q(
    "q09_cube_orders",
    (s, dir) => {
      Tables.orders(s, dir)
        .cube("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("total"))
        .select(
          coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
          col("n_orders"), col("total"))
        .orderBy("status", "priority")
    },
    Some("""SELECT
      COALESCE(o_orderstatus, 'ALL') AS status,
      COALESCE(o_orderpriority, 'ALL') AS priority,
      count(*) AS n_orders,
      CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
    FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
    ORDER BY status, priority"""))

  /** Global top-k: orderBy().limit() plans TakeOrderedAndProject — each
    * partition keeps k rows, only k·partitions reach the driver-side merge. */
  val q10TopCustomers = Q(
    "q10_top_customers",
    (s, dir) => {
      Tables.customer(s, dir)
        .select("c_custkey", "c_name", "c_acctbal")
        .orderBy(col("c_acctbal").desc, col("c_custkey"))
        .limit(10)
    },
    Some("""SELECT c_custkey, c_name, c_acctbal FROM customer
    ORDER BY c_acctbal DESC, c_custkey LIMIT 10"""))

  /** Set operations: UNION (distinct) → INTERSECT → EXCEPT composed. */
  val q11SegmentSetops = Q(
    "q11_segment_setops",
    (s, dir) => {
      val c = Tables.customer(s, dir)
      val a = c.filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
      val b = c.filter(col("c_acctbal") > 5000).select("c_custkey")
      val d = c.filter(col("c_nationkey") < 10).select("c_custkey")
      val e = c.filter(col("c_acctbal") < 0).select("c_custkey")
      a.union(b).distinct()          // SQL UNION (Spark union = UNION ALL)
        .intersect(d)
        .except(e)
        .orderBy("c_custkey")
    },
    // Nested subqueries force left-to-right evaluation: bare chaining would
    // let DuckDB's higher INTERSECT precedence regroup the expression.
    Some("""SELECT c_custkey FROM (
      SELECT c_custkey FROM (
        SELECT c_custkey FROM (
          SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
          UNION
          SELECT c_custkey FROM customer WHERE c_acctbal > 5000)
        INTERSECT
        SELECT c_custkey FROM customer WHERE c_nationkey < 10)
      EXCEPT
      SELECT c_custkey FROM customer WHERE c_acctbal < 0)
    ORDER BY c_custkey"""))

  /** Exact multi-column distinct counts (expand-based COUNT DISTINCT). */
  val q12DistinctCounts = Q(
    "q12_distinct_counts",
    (s, dir) => {
      Tables.lineitem(s, dir).agg(
        countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"),
        countDistinct(col("l_orderkey")).as("n_orders"))
    },
    Some("""SELECT count(DISTINCT l_partkey) AS n_parts,
      count(DISTINCT l_suppkey) AS n_supps,
      count(DISTINCT l_orderkey) AS n_orders
    FROM lineitem"""))

  /** HyperLogLog++ approximate distinct — the 100 TB path where exact
    * distinct would shuffle every key. Sketch values are engine-specific, so
    * no oracle (driver does a rows-only check); the sbt suite bounds the
    * estimate against the exact count. */
  val q13ApproxDistinct = Q(
    "q13_approx_distinct",
    (s, dir) => {
      Tables.lineitem(s, dir).agg(
        approx_count_distinct(col("l_partkey"), 0.01).as("approx_parts"),
        approx_count_distinct(col("l_orderkey"), 0.01).as("approx_orders"))
    },
    None)

  /** Scalar string-function surface over part. */
  val q14StringFuncs = Q(
    "q14_string_funcs",
    (s, dir) => {
      Tables.part(s, dir)
        .select(
          col("p_partkey"),
          lower(col("p_brand")).as("brand_lc"),
          upper(col("p_type")).as("type_uc"),
          substring(col("p_name"), 1, 8).as("name_prefix"),
          concat(col("p_type"), lit("#"), col("p_size").cast("string")).as("type_tag"),
          length(col("p_name")).as("name_len"),
          abs(col("p_retailprice") - 1000.0).as("price_gap"),
          when(col("p_size") > 25, "L").when(col("p_size") > 10, "M").otherwise("S").as("size_class"))
        .orderBy("p_partkey")
    },
    Some("""SELECT p_partkey,
      lower(p_brand) AS brand_lc,
      upper(p_type) AS type_uc,
      substring(p_name, 1, 8) AS name_prefix,
      concat(p_type, '#', CAST(p_size AS VARCHAR)) AS type_tag,
      CAST(length(p_name) AS INT) AS name_len,
      abs(p_retailprice - 1000.0) AS price_gap,
      CASE WHEN p_size > 25 THEN 'L' WHEN p_size > 10 THEN 'M' ELSE 'S' END AS size_class
    FROM part ORDER BY p_partkey"""))

  /** Scalar date/time-function surface over orders. */
  val q15DateFuncs = Q(
    "q15_date_funcs",
    (s, dir) => {
      Tables.orders(s, dir)
        .select(
          col("o_orderkey"),
          year(col("o_orderdate")).as("order_year"),
          month(col("o_orderdate")).as("order_month"),
          dayofmonth(col("o_orderdate")).as("order_day"),
          to_date(date_trunc("quarter", col("o_orderdate"))).as("quarter_start"),
          datediff(to_date(col("o_orderdate")), lit("1995-01-01").cast("date")).as("days_since"),
          dayofweek(col("o_orderdate")).as("dow"),
          last_day(col("o_orderdate")).as("month_end"))
        .orderBy("o_orderkey")
    },
    Some("""SELECT o_orderkey,
      CAST(year(o_orderdate) AS INT) AS order_year,
      CAST(month(o_orderdate) AS INT) AS order_month,
      CAST(day(o_orderdate) AS INT) AS order_day,
      CAST(date_trunc('quarter', o_orderdate) AS DATE) AS quarter_start,
      CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS INT) AS days_since,
      CAST(dayofweek(o_orderdate) + 1 AS INT) AS dow,
      last_day(CAST(o_orderdate AS DATE)) AS month_end
    FROM orders ORDER BY o_orderkey"""))

  /** JSON extraction over events.props — both `from_json` (typed struct) and
    * `get_json_object` (path probe). Oracle uses a regexp so it holds with
    * DuckDB's core functions only. */
  val q16JsonExtract = Q(
    "q16_json_extract",
    (s, dir) => {
      Tables.events(s, dir)
        .select(
          col("event_id"),
          from_json(col("props"), "k INT", Map.empty[String, String]).getField("k").as("k_typed"),
          get_json_object(col("props"), "$.k").cast("int").as("k_path"))
        .orderBy("event_id")
    },
    Some("""SELECT event_id,
      CAST(nullif(regexp_extract(props, '"k":\s*(-?\d+)', 1), '') AS INT) AS k_typed,
      CAST(nullif(regexp_extract(props, '"k":\s*(-?\d+)', 1), '') AS INT) AS k_path
    FROM events ORDER BY event_id"""))

  /** Semi-structured aggregation through Spark 4's VARIANT type: the props
    * JSON is parsed once into the binary variant encoding (`parse_json`),
    * fields are read with `variant_get` path extraction, and the extracted
    * values feed a normal relational aggregate. VARIANT is the open-schema
    * path a 100 TB event lake actually uses — parse-once binary encoding
    * instead of per-access string re-parsing (q16's `get_json_object`
    * re-tokenizes the JSON text on every call), and engines shred hot
    * variant fields into columnar form at write time. Parse + extract are
    * row-local; the aggregate is the only shuffle. */
  val q47VariantAgg = Q(
    "q47_variant_agg",
    (s, dir) => {
      Tables.events(s, dir)
        .select(col("event_type"),
          variant_get(parse_json(col("props")), "$.k", "int").as("k"))
        .groupBy("event_type")
        .agg(
          count(lit(1)).as("n_events"),
          min("k").as("min_k"), max("k").as("max_k"),
          sum(col("k").cast("long")).as("sum_k"))
        .orderBy("event_type")
    },
    Some("""WITH e AS (
        SELECT event_type,
          CAST(nullif(regexp_extract(props, '"k":\s*(-?\d+)', 1), '') AS INT) AS k
        FROM events)
      SELECT event_type, count(*) AS n_events,
        min(k) AS min_k, max(k) AS max_k,
        CAST(sum(k) AS BIGINT) AS sum_k
      FROM e GROUP BY event_type ORDER BY event_type"""))

  /** Ordered string aggregation (SQL:2016 LISTAGG, new in Spark 4):
    * per-region nation roster as one delimited string, deterministic via
    * WITHIN GROUP ordering. The per-group sort happens inside the aggregate
    * buffer (group-local, tiny), not as a global sort; output is 5 rows. */
  val q48Listagg = Q(
    "q48_listagg",
    (s, dir) => {
      Tables.nation(s, dir).createOrReplaceTempView("nation_v")
      Tables.region(s, dir).createOrReplaceTempView("region_v")
      s.sql("""SELECT r_name,
          listagg(n_name, ',') WITHIN GROUP (ORDER BY n_name) AS nations,
          count(*) AS n_nations
        FROM nation_v JOIN region_v ON n_regionkey = r_regionkey
        GROUP BY r_name ORDER BY r_name""")
    },
    Some("""SELECT r_name,
        string_agg(n_name, ',' ORDER BY n_name) AS nations,
        count(*) AS n_nations
      FROM nation JOIN region ON n_regionkey = r_regionkey
      GROUP BY r_name ORDER BY r_name"""))

  /** Tumbling 5-minute event-time windows, batch mode — the same `window()`
    * expression Structured Streaming uses (§2.10); bucket start exported as
    * epoch seconds so the oracle compare is integer-exact. */
  val q17EventBuckets = Q(
    "q17_event_buckets",
    (s, dir) => {
      Tables.events(s, dir)
        .groupBy(window(col("ts"), "5 minutes").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))
        .select(
          unix_timestamp(col("w.start")).as("bucket_start"),
          col("event_type"), col("n_events"), col("sum_value"))
        .orderBy("bucket_start", "event_type")
    },
    Some("""SELECT
      CAST(floor(epoch(ts) / 300) * 300 AS BIGINT) AS bucket_start,
      event_type,
      count(*) AS n_events,
      CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
    FROM events GROUP BY 1, 2 ORDER BY bucket_start, event_type"""))

  /** Session windows (10-minute gap), batch mode; oracle reconstructs the
    * same sessions with a lag-based island computation. */
  val q18EventSessions = Q(
    "q18_event_sessions",
    (s, dir) => {
      Tables.events(s, dir)
        .groupBy(col("user_id"), session_window(col("ts"), "10 minutes").as("w"))
        .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))
        .select(
          col("user_id"),
          unix_timestamp(col("w.start")).as("session_start"),
          col("n_events"), col("sum_value"))
        .orderBy("user_id", "session_start")
    },
    Some("""WITH flagged AS (
      SELECT user_id, ts, value,
        CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts) >= INTERVAL 10 MINUTE
             THEN 1 ELSE 0 END AS new_sess
      FROM events),
    sess AS (
      SELECT user_id, ts, value,
        sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
      FROM flagged)
    SELECT user_id,
      CAST(floor(epoch(min(ts))) AS BIGINT) AS session_start,
      count(*) AS n_events,
      CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
    FROM sess GROUP BY user_id, sid ORDER BY user_id, session_start"""))

  /** Per-type event stats: count / min / max / exact avg. */
  val q19EventStats = Q(
    "q19_event_stats",
    (s, dir) => {
      Tables.events(s, dir)
        .groupBy("event_type")
        .agg(
          count(lit(1)).as("n_events"),
          min(col("value")).as("min_value"),
          max(col("value")).as("max_value"),
          dsum(col("value")).as("sum_value"),
          davg(col("value")).as("avg_value"))
        .orderBy("event_type")
    },
    Some("""SELECT event_type,
      count(*) AS n_events,
      min(value) AS min_value,
      max(value) AS max_value,
      CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value,
      CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) / count(*) AS avg_value
    FROM events GROUP BY event_type ORDER BY event_type"""))

  /** As-of join: every event matched to the user's most recent order on or
    * before the event time (union-trick operator, one shuffle — see
    * [[graft.operators.AsOfJoin]]). The right side is pre-aggregated to one
    * row per (custkey, orderdate) so ties are well-defined; the oracle is
    * DuckDB's native ASOF LEFT JOIN.
    */
  val q20AsofJoin = Q(
    "q20_asof_join",
    (s, dir) => {
      val ev = Tables.events(s, dir).select("event_id", "user_id", "ts")
      val ord = Tables.orders(s, dir)
        .groupBy("o_custkey", "o_orderdate")
        .agg(max("o_orderkey").as("last_orderkey"), count(lit(1)).as("n_orders_day"))
        .withColumn("matched_date", to_date(col("o_orderdate")))
      graft.operators.AsOfJoin.asOf(
        left = ev, right = ord,
        leftKey = col("user_id"), rightKey = col("o_custkey"),
        leftTime = col("ts"), rightTime = col("o_orderdate"),
        rightCols = Seq("matched_date", "last_orderkey", "n_orders_day"))
        .select("event_id", "user_id", "matched_date", "last_orderkey", "n_orders_day")
        .orderBy("event_id")
    },
    Some("""WITH r AS (
      SELECT o_custkey, o_orderdate,
        CAST(o_orderdate AS DATE) AS matched_date,
        max(o_orderkey) AS last_orderkey,
        count(*) AS n_orders_day
      FROM orders GROUP BY o_custkey, o_orderdate)
    SELECT e.event_id, e.user_id, r.matched_date, r.last_orderkey, r.n_orders_day
    FROM events e ASOF LEFT JOIN r
      ON e.user_id = r.o_custkey AND e.ts >= r.o_orderdate
    ORDER BY e.event_id"""))

  /** RANGE-framed window: trailing-90-day revenue per customer. The frame is
    * value-based (epoch seconds), not row-based — §2.6's rangeBetween. */
  val q21WindowRange = Q(
    "q21_window_range",
    (s, dir) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy("epoch_s")
        .rangeBetween(-90L * 86400, 0)
      Tables.orders(s, dir)
        .withColumn("epoch_s", unix_timestamp(col("o_orderdate")))
        .withColumn(
          "trailing_90d",
          sum(dec2(col("o_totalprice"))).over(w).cast("double"))
        .select("o_orderkey", "o_custkey", "trailing_90d")
        .orderBy("o_orderkey")
    },
    Some("""SELECT o_orderkey, o_custkey,
      CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) OVER (
        PARTITION BY o_custkey ORDER BY CAST(floor(epoch(o_orderdate)) AS BIGINT)
        RANGE BETWEEN 7776000 PRECEDING AND CURRENT ROW) AS DOUBLE) AS trailing_90d
    FROM orders ORDER BY o_orderkey"""))

  /** Ranking-function surface: dense_rank / percent_rank / cume_dist /
    * ntile over a totally-ordered key (tie-broken by custkey so ntile — the
    * only row-order-sensitive one — is deterministic). */
  val q22Ranking = Q(
    "q22_ranking",
    (s, dir) => {
      val w = Window.partitionBy("c_mktsegment")
        .orderBy(col("c_acctbal").desc, col("c_custkey"))
      Tables.customer(s, dir)
        .select(
          col("c_custkey"), col("c_mktsegment"),
          dense_rank().over(w).as("drank"),
          percent_rank().over(w).as("prank"),
          cume_dist().over(w).as("cdist"),
          ntile(4).over(w).as("quartile"))
        .orderBy("c_custkey")
    },
    Some("""SELECT c_custkey, c_mktsegment,
      CAST(dense_rank() OVER w AS INT) AS drank,
      percent_rank() OVER w AS prank,
      cume_dist() OVER w AS cdist,
      CAST(ntile(4) OVER w AS INT) AS quartile
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey)
    ORDER BY c_custkey"""))

  /** Outer-join preservation: every customer keeps a row even with no
    * orders (written as a RIGHT join from orders to exercise that join
    * type; LEFT is its mirror). count() skips nulls, so orderless
    * customers report 0. */
  val q23OuterJoinCounts = Q(
    "q23_outer_join_counts",
    (s, dir) => {
      val o = Tables.orders(s, dir)
      val c = Tables.customer(s, dir)
      o.join(c, o("o_custkey") === c("c_custkey"), "right_outer")
        .groupBy("c_custkey")
        .agg(
          count(col("o_orderkey")).as("n_orders"),
          coalesce(dsum(col("o_totalprice")), lit(0.0)).as("total"))
        .orderBy("c_custkey")
    },
    Some("""SELECT c_custkey,
      count(o_orderkey) AS n_orders,
      coalesce(CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE), 0.0) AS total
    FROM orders RIGHT JOIN customer ON o_custkey = c_custkey
    GROUP BY c_custkey ORDER BY c_custkey"""))

  /** FULL OUTER join: nations having suppliers vs nations having customers
    * (supplier coverage is sparse at small SFs, so both null sides occur). */
  val q24FullOuterNations = Q(
    "q24_full_outer_nations",
    (s, dir) => {
      val sn = Tables.supplier(s, dir)
        .select(col("s_nationkey").as("nationkey")).distinct()
        .withColumn("has_supplier", lit(1))
      val cn = Tables.customer(s, dir)
        .select(col("c_nationkey").as("nationkey")).distinct()
        .withColumn("has_customer", lit(1))
      sn.join(cn, Seq("nationkey"), "full_outer")
        .select(
          col("nationkey"),
          coalesce(col("has_supplier"), lit(0)).as("has_supplier"),
          coalesce(col("has_customer"), lit(0)).as("has_customer"))
        .orderBy("nationkey")
    },
    Some("""SELECT coalesce(s.nationkey, c.nationkey) AS nationkey,
      coalesce(s.has_supplier, 0) AS has_supplier,
      coalesce(c.has_customer, 0) AS has_customer
    FROM (SELECT DISTINCT s_nationkey AS nationkey, 1 AS has_supplier FROM supplier) s
    FULL JOIN (SELECT DISTINCT c_nationkey AS nationkey, 1 AS has_customer FROM customer) c
      USING (nationkey)
    ORDER BY nationkey"""))

  /** Multiset set operations: INTERSECT ALL / EXCEPT ALL keep duplicate
    * cardinalities (q11 covers the distinct forms). */
  val q25SetopsAll = Q(
    "q25_setops_all",
    (s, dir) => {
      val o = Tables.orders(s, dir)
      val a = o.filter(col("o_orderstatus") === "F").select("o_orderpriority")
      val b = o.filter(col("o_orderstatus") === "O").select("o_orderpriority")
      val c = o.filter(col("o_orderstatus") === "P").select("o_orderpriority")
      a.intersectAll(b).exceptAll(c).orderBy("o_orderpriority")
    },
    Some("""SELECT o_orderpriority FROM (
      SELECT o_orderpriority FROM (
        SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'F'
        INTERSECT ALL
        SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'O')
      EXCEPT ALL
      SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'P')
    ORDER BY o_orderpriority"""))

  /** Z-score anomaly detection per event type. Mean and variance come from
    * *exact decimal* moment sums (order-independent), so the z-scores are
    * bit-identical across engines — the aggregate-then-rejoin shape is one
    * small broadcastable stats frame against the unaggregated stream. */
  val q26ZscoreOutliers = Q(
    "q26_zscore_outliers",
    (s, dir) => {
      val ev = Tables.events(s, dir)
      val stats = ev.groupBy("event_type").agg(
        count(lit(1)).as("n"),
        dsum(col("value")).as("s"),
        sum(dec2(col("value")) * dec2(col("value"))).cast("double").as("sq"))
      val z = (col("value") - col("s") / col("n")) /
        sqrt((col("sq") - col("s") * col("s") / col("n")) / (col("n") - 1))
      ev.join(broadcast(stats), "event_type")
        .withColumn("z", z)
        .filter(abs(col("z")) > 3)
        .select(col("event_id"), col("event_type"), col("value"), round(col("z"), 6).as("zscore"))
        .orderBy("event_id")
    },
    Some("""WITH s AS (
      SELECT event_type, count(*) AS n,
        CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS s,
        CAST(sum(CAST(value AS DECIMAL(12,2)) * CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sq
      FROM events GROUP BY event_type)
    SELECT e.event_id, e.event_type, e.value,
      round((e.value - s.s / s.n) / sqrt((s.sq - s.s * s.s / s.n) / (s.n - 1)), 6) AS zscore
    FROM events e JOIN s USING (event_type)
    WHERE abs((e.value - s.s / s.n) / sqrt((s.sq - s.s * s.s / s.n) / (s.n - 1))) > 3
    ORDER BY e.event_id"""))

  /** Exact interpolated quantiles per event type (SQL `percentile`;
    * DuckDB's quantile_cont has identical linear-interpolation semantics —
    * round 6 absorbs the formula's FP association difference). */
  val q27Quantiles = Q(
    "q27_quantiles",
    (s, dir) => {
      Tables.events(s, dir)
        .groupBy("event_type")
        .agg(
          round(expr("percentile(value, 0.5)"), 6).as("p50"),
          round(expr("percentile(value, 0.95)"), 6).as("p95"),
          round(expr("percentile(value, 0.99)"), 6).as("p99"))
        .orderBy("event_type")
    },
    Some("""SELECT event_type,
      round(quantile_cont(value, 0.5), 6) AS p50,
      round(quantile_cont(value, 0.95), 6) AS p95,
      round(quantile_cont(value, 0.99), 6) AS p99
    FROM events GROUP BY event_type ORDER BY event_type"""))

  /** Math-function surface (§2.9 beyond abs/round): log/exp/pow/sqrt are
    * rounded to 6 dp — libm implementations may differ in the final ulp
    * between the JVM and DuckDB; floor/ceil/mod/sqrt are IEEE-exact. */
  val q28MathFuncs = Q(
    "q28_math_funcs",
    (s, dir) => {
      Tables.part(s, dir)
        .select(
          col("p_partkey"),
          round(log(col("p_retailprice")), 6).as("ln_price"),
          round(exp(col("p_size").cast("double") / 50.0), 6).as("exp_size"),
          round(pow(col("p_retailprice"), 2.0), 6).as("price_sq"),
          sqrt(col("p_retailprice")).as("sqrt_price"),
          floor(col("p_retailprice")).as("floor_price"),
          ceil(col("p_retailprice")).as("ceil_price"),
          (col("p_size") % 7).as("size_mod7"),
          signum(col("p_retailprice") - 1000.0).cast("int").as("sign_gap"))
        .orderBy("p_partkey")
    },
    Some("""SELECT p_partkey,
      round(ln(p_retailprice), 6) AS ln_price,
      round(exp(CAST(p_size AS DOUBLE) / 50.0), 6) AS exp_size,
      round(pow(p_retailprice, 2.0), 6) AS price_sq,
      sqrt(p_retailprice) AS sqrt_price,
      CAST(floor(p_retailprice) AS BIGINT) AS floor_price,
      CAST(ceil(p_retailprice) AS BIGINT) AS ceil_price,
      CAST(p_size % 7 AS INT) AS size_mod7,
      CAST(sign(p_retailprice - 1000.0) AS INT) AS sign_gap
    FROM part ORDER BY p_partkey"""))

  /** Skyline: parts Pareto-optimal on (max size, min price) — the
    * dominance operator from the skyline-on-Spark literature, run through
    * the plan-integrated form ([[graft.plans.SkylinePlan]]: custom
    * LogicalPlan + strategy + pruning rule; a composed two-phase form in
    * the test tree is its parity-tested twin); oracle is the
    * quadratic NOT EXISTS dominance predicate. */
  val q29Skyline = Q(
    "q29_skyline",
    (s, dir) => {
      val p = Tables.part(s, dir)
        .select(
          col("p_partkey"), col("p_size"), col("p_retailprice"),
          col("p_size").cast("double").as("_d1"),
          (-col("p_retailprice")).as("_d2"))
      graft.plans.SkylinePlan.skyline(p, Seq("_d1", "_d2"))
        .select("p_partkey", "p_size", "p_retailprice")
        .orderBy("p_partkey")
    },
    Some("""SELECT p_partkey, p_size, p_retailprice FROM part p
    WHERE NOT EXISTS (
      SELECT 1 FROM part q
      WHERE q.p_size >= p.p_size AND q.p_retailprice <= p.p_retailprice
        AND (q.p_size > p.p_size OR q.p_retailprice < p.p_retailprice))
    ORDER BY p_partkey"""))

  /** PIVOT: per-user event-type counts as columns. Explicit value list so
    * no discovery pass runs and output columns are deterministic; the
    * oracle is the equivalent conditional aggregation. */
  val q30Pivot = Q(
    "q30_pivot",
    (s, dir) => {
      Tables.events(s, dir)
        .groupBy("user_id")
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .orderBy("user_id")
    },
    Some("""SELECT user_id,
      count(CASE WHEN event_type = 'click' THEN 1 END) AS click,
      count(CASE WHEN event_type = 'error' THEN 1 END) AS error,
      count(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
      count(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
      count(CASE WHEN event_type = 'view' THEN 1 END) AS view
    FROM events GROUP BY user_id ORDER BY user_id"""))

  /** UNPIVOT (melt): wide part attributes back to long (attribute, value)
    * rows — the §2.8-adjacent reshaping surface added in Spark 3.4. */
  val q31Unpivot = Q(
    "q31_unpivot",
    (s, dir) => {
      Tables.part(s, dir)
        .select(
          col("p_partkey"),
          col("p_size").cast("double").as("size"),
          col("p_retailprice").as("retailprice"))
        .unpivot(
          Array(col("p_partkey")),
          Array(col("size"), col("retailprice")),
          "attribute", "value")
        .orderBy("p_partkey", "attribute")
    },
    Some("""SELECT p_partkey, attribute, value FROM (
      SELECT p_partkey, 'size' AS attribute, CAST(p_size AS DOUBLE) AS value FROM part
      UNION ALL
      SELECT p_partkey, 'retailprice', p_retailprice FROM part)
    ORDER BY p_partkey, attribute"""))

  val all: Seq[Q] = Seq(
    q01PricingSummary, q02RevenueForecast, q03RevenueByNation, q04PrioritySemi,
    q05CustomersNoFinal, q06TopOrdersPerCustomer, q07MonthlyRevenueLag,
    q08RollupPricing, q09CubeOrders, q10TopCustomers, q11SegmentSetops,
    q12DistinctCounts, q13ApproxDistinct, q14StringFuncs, q15DateFuncs,
    q16JsonExtract, q17EventBuckets, q18EventSessions, q19EventStats,
    q20AsofJoin, q21WindowRange, q22Ranking, q23OuterJoinCounts,
    q24FullOuterNations, q25SetopsAll, q26ZscoreOutliers, q27Quantiles,
    q28MathFuncs, q29Skyline, q30Pivot, q31Unpivot, q47VariantAgg,
    q48Listagg)
}
