package graft.queries

import graft.operators.BloomJoin
import org.apache.spark.sql.{DataFrame, SparkSession, functions => F}
import graft.queries.QueryLib._

/** The relational surface: TPC-H style aggregates, joins, windows,
  * CDC, time series and SQL built-ins over the sf tables (Spark
  * built-ins are part of the engine). */
private[graft] object RelationalQueries {

  /** Orders projected to the CDC demo payload (q_merge_upsert /
    * q_scd2_history share it with their oracles).
    */
  private def ordersSnapshot(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "orders")
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")

  /** Deterministic changelog over [[ordersSnapshot]]: deletes on
    * %10=7, a seq-1 update superseded by a seq-2 update on %10=4, a
    * seq-2 update on %10=1, inserts at shifted keys on %10=2.
    */
  private def ordersChangelog(s: SparkSession, dir: String): DataFrame = {
    val snap = ordersSnapshot(s, dir)
    val k = F.col("o_orderkey")
    def ch(df: DataFrame, op: String, seq: Long): DataFrame =
      df.withColumn("op", F.lit(op)).withColumn("seq", F.lit(seq))
    val del = ch(snap.where(k % 10 === 7), "D", 1L)
    val updLost = ch(
      snap.where(k % 10 === 4)
        .withColumn("o_totalprice", F.round(F.col("o_totalprice") * 2, 4)),
      "U", 1L)
    val updWin = ch(
      snap.where(k % 10 === 1 || k % 10 === 4)
        .withColumn("o_totalprice", F.round(F.col("o_totalprice") * 1.1, 4)),
      "U", 2L)
    val ins = ch(
      snap.where(k % 10 === 2).withColumn("o_orderkey", k + 1000000L),
      "I", 1L)
    del.unionByName(updLost).unionByName(updWin).unionByName(ins)
  }

  /** Fellegi-Sunter weights for q_entity_resolve — defined ONCE and
    * interpolated into the oracle SQL so both engines use the exact
    * same double constants (name: exact-match evidence strong, chance
    * collision rare; nation ~1/25 chance agreement; segment ~1/5).
    */
  private val ErNameW =
    graft.operators.EntityResolution.FieldWeight("c_name", 0.95, 0.001)

  private val ErNatW =
    graft.operators.EntityResolution.FieldWeight("c_nationkey", 0.9, 0.04)

  private val ErSegW =
    graft.operators.EntityResolution.FieldWeight("c_mktsegment", 0.9, 0.2)

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q1_pricing_summary", (s, d) =>
      tbl(s, d, "lineitem")
        .where(F.col("l_shipdate") <= F.lit("1999-12-31"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          F.round(F.sum("l_quantity"), 2).as("sum_qty"),
          F.round(F.sum("l_extendedprice"), 2).as("sum_base_price"),
          F.round(F.sum(F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))), 2).as("sum_disc_price"),
          F.round(F.avg("l_quantity"), 4).as("avg_qty"),
          F.round(F.avg("l_discount"), 4).as("avg_disc"),
          F.count(F.lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus"),
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS sum_base_price,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
        |  round(avg(l_quantity), 4) AS avg_qty,
        |  round(avg(l_discount), 4) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1999-12-31'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin),

    QuerySpec("q3_shipping_priority", (s, d) => {
      val c = tbl(s, d, "customer").where(F.col("c_mktsegment") === "BUILDING")
      val o = tbl(s, d, "orders")
      val l = tbl(s, d, "lineitem")
      c.join(o, F.col("c_custkey") === F.col("o_custkey"))
        .join(l, F.col("o_orderkey") === F.col("l_orderkey"))
        .groupBy(
          F.col("l_orderkey"),
          F.date_format(F.col("o_orderdate"), "yyyy-MM-dd").as("orderdate"))
        .agg(F.round(F.sum(F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))), 2).as("revenue"))
        .orderBy(F.col("revenue").desc, F.col("l_orderkey").asc)
        .limit(10)
    },
      """SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |  JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |GROUP BY l_orderkey, orderdate
        |ORDER BY revenue DESC, l_orderkey ASC
        |LIMIT 10""".stripMargin),

    QuerySpec("q4_order_priority", (s, d) => {
      val o = tbl(s, d, "orders")
      val l = tbl(s, d, "lineitem").select("l_orderkey").distinct()
      o.join(l, F.col("o_orderkey") === F.col("l_orderkey"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).as("order_count"))
        .orderBy("o_orderpriority")
    },
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey)
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin),

    QuerySpec("q5_revenue_by_nation", (s, d) => {
      val r = F.broadcast(tbl(s, d, "region"))
      val n = F.broadcast(tbl(s, d, "nation"))
      val c = tbl(s, d, "customer")
      val o = tbl(s, d, "orders")
      val l = tbl(s, d, "lineitem")
      l.join(o, F.col("l_orderkey") === F.col("o_orderkey"))
        .join(c, F.col("o_custkey") === F.col("c_custkey"))
        .join(n, F.col("c_nationkey") === F.col("n_nationkey"))
        .join(r, F.col("n_regionkey") === F.col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))), 2).as("revenue"))
        .orderBy("r_name", "n_name")
    },
      """SELECT r_name, n_name,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name
        |ORDER BY r_name, n_name""".stripMargin),

    QuerySpec("q6_forecast_revenue", (s, d) =>
      tbl(s, d, "lineitem")
        .where(
          F.col("l_shipdate") >= F.lit("1996-01-01") &&
            F.col("l_shipdate") < F.lit("1997-01-01") &&
            F.col("l_discount") >= 0.05 && F.col("l_discount") <= 0.07 &&
            F.col("l_quantity") < 24)
        .agg(F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).as("revenue")),
      """SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount >= 0.05 AND l_discount <= 0.07
        |  AND l_quantity < 24""".stripMargin),

    QuerySpec("q_window_top_customers", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("c_nationkey")
        .orderBy(F.col("c_acctbal").desc, F.col("c_custkey").asc)
      tbl(s, d, "customer")
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 3)
        .select(
          F.col("c_nationkey"), F.col("rk"), F.col("c_custkey"),
          F.round(F.col("c_acctbal"), 2).as("acctbal"))
        .orderBy("c_nationkey", "rk")
    },
      """SELECT c_nationkey, rk, c_custkey, acctbal FROM (
        |  SELECT c_nationkey, c_custkey, round(c_acctbal, 2) AS acctbal,
        |    row_number() OVER (PARTITION BY c_nationkey
        |      ORDER BY c_acctbal DESC, c_custkey ASC) AS rk
        |  FROM customer)
        |WHERE rk <= 3
        |ORDER BY c_nationkey, rk""".stripMargin),

    QuerySpec("q_distinct_part_stats", (s, d) =>
      tbl(s, d, "part").agg(
        F.countDistinct("p_brand").as("n_brands"),
        F.countDistinct("p_type").as("n_types"),
        F.round(F.avg("p_retailprice"), 4).as("avg_price"),
        F.round(F.min("p_retailprice"), 2).as("min_price"),
        F.round(F.max("p_retailprice"), 2).as("max_price")),
      """SELECT count(DISTINCT p_brand) AS n_brands,
        |  count(DISTINCT p_type) AS n_types,
        |  round(avg(p_retailprice), 4) AS avg_price,
        |  round(min(p_retailprice), 2) AS min_price,
        |  round(max(p_retailprice), 2) AS max_price
        |FROM part""".stripMargin),

    // bloom-prefiltered SEMI join: the big side (lineitem) is filtered
    // by a codegen Bloom probe BEFORE any shuffle — only matches + fpp
    // reach the exact verify join; result is bit-identical to the
    // plain semi join (oracle = IN-subquery)
    QuerySpec("q_bloom_semi", (s, d) => {
      val li = tbl(s, d, "lineitem")
      val urgent = tbl(s, d, "orders")
        .where(F.col("o_orderpriority") === "1-URGENT")
        .select(F.col("o_orderkey").as("l_orderkey"))
      BloomJoin.semiJoin(li, urgent, "l_orderkey")
        .groupBy("l_returnflag")
        .agg(
          F.round(F.sum("l_extendedprice"), 2).as("revenue"),
          F.count(F.lit(1)).as("n_items"))
        .orderBy("l_returnflag")
    },
      // NOT EXISTS, not NOT IN: a single NULL o_custkey would make
      // NOT IN return zero rows while the engine's left_anti join
      // (null-safe) keeps the normal counts
      """SELECT l_returnflag,
        |  round(sum(l_extendedprice), 2) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem
        |WHERE l_orderkey IN
        |  (SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT')
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin),

    // bloom-prefiltered ANTI join: probe-failers are definite
    // non-members and never shuffle; probe-passers take the exact
    // anti check (oracle = NOT EXISTS)
    QuerySpec("q_bloom_anti", (s, d) => {
      // "stale parts": no shipment since 2001 — the recency filter
      // keeps both legs non-trivial (49 keep / 1951 drop at sf0.01)
      val p = tbl(s, d, "part")
      val ordered = tbl(s, d, "lineitem")
        .where(F.col("l_shipdate") >= F.lit("2001-01-01"))
        .select(F.col("l_partkey").as("p_partkey"))
      BloomJoin.antiJoin(p, ordered, "p_partkey")
        .groupBy("p_brand")
        .agg(F.count(F.lit(1)).as("n_parts"))
        .orderBy("p_brand")
    },
      """SELECT p_brand, count(*) AS n_parts
        |FROM part
        |WHERE NOT EXISTS
        |  (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey
        |   AND l_shipdate >= TIMESTAMP '2001-01-01')
        |GROUP BY p_brand
        |ORDER BY p_brand""".stripMargin),

    QuerySpec("q_customers_without_orders", (s, d) => {
      val c = tbl(s, d, "customer")
      val o = tbl(s, d, "orders")
        .where(F.col("o_orderstatus") === "F")
        .select("o_custkey").distinct()
      c.join(o, F.col("c_custkey") === F.col("o_custkey"), "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).as("n_customers"))
        .orderBy("c_mktsegment")
    },
      """SELECT c_mktsegment, count(*) AS n_customers
        |FROM customer
        |WHERE NOT EXISTS
        |  (SELECT 1 FROM orders
        |   WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin),

    QuerySpec("q_events_hourly", (s, d) => {
      eventsUs(s, d)
        .groupBy(
          F.date_format(F.date_trunc("hour", F.col("ts")), "yyyy-MM-dd HH:mm:ss").as("hour"),
          F.col("event_type"))
        .agg(
          F.count(F.lit(1)).as("n_events"),
          F.round(F.sum("value"), 2).as("sum_value"))
        .where(F.col("n_events") >= 5)
        .orderBy("hour", "event_type")
    },
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
        |  event_type, count(*) AS n_events, round(sum(value), 2) AS sum_value
        |FROM events
        |GROUP BY hour, event_type
        |HAVING count(*) >= 5
        |ORDER BY hour, event_type""".stripMargin),

    // dense per-user hourly grid with forward fill (resample+ffill):
    // hour rendered as a string so both engines hash identically (same
    // device as q_events_hourly)
    QuerySpec("q_resample_gapfill", (s, d) =>
      graft.operators.TimeSeries.resampleGapFill(
          eventsUs(s, d).where(F.col("user_id") < 8),
          keyCol = "user_id", tsCol = "ts", valueCol = "value")
        .select(
          F.col("user_id"),
          F.date_format(F.col("bucket_ts"), "yyyy-MM-dd HH:mm:ss").as("hour"),
          F.col("n_events"), F.col("sum_value"), F.col("filled_value"),
          F.col("is_gap").cast("int").as("is_gap"))
        .orderBy("user_id", "hour"),
      // resample replay: per-user span via generate_series, LEFT JOIN
      // marks gaps, last_value IGNORE NULLS forward-fills the rounded
      // per-bucket sums
      """WITH ev AS (
        |  SELECT user_id, date_trunc('hour', ts) AS b, value
        |  FROM events WHERE user_id < 8),
        |agg AS (
        |  SELECT user_id, b, count(*) AS n, round(sum(value), 2) AS v
        |  FROM ev GROUP BY 1, 2),
        |span AS (
        |  SELECT user_id, min(b) AS lo, max(b) AS hi FROM agg GROUP BY 1),
        |grid AS (
        |  SELECT user_id, unnest(generate_series(lo, hi, INTERVAL 1 HOUR))
        |    AS b
        |  FROM span),
        |j AS (
        |  SELECT g.user_id, g.b, a.n, a.v
        |  FROM grid g LEFT JOIN agg a USING (user_id, b))
        |SELECT user_id, strftime(b, '%Y-%m-%d %H:%M:%S') AS hour,
        |  coalesce(n, 0)::BIGINT AS n_events,
        |  coalesce(v, 0.0) AS sum_value,
        |  last_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY b
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS filled_value,
        |  (n IS NULL)::INT AS is_gap
        |FROM j
        |ORDER BY user_id, hour""".stripMargin),

    // ordered conversion funnel: earliest view, first click strictly
    // after it, first purchase strictly after that — per user
    QuerySpec("q_event_funnel", (s, d) =>
      graft.operators.TimeSeries.funnelStages(
          eventsUs(s, d), keyCol = "user_id", tsCol = "ts",
          typeCol = "event_type", stages = Seq("view", "click", "purchase"))
        .select(
          F.col("user_id"),
          F.date_format(F.col("ts_1"), "yyyy-MM-dd HH:mm:ss").as("t_view"),
          F.date_format(F.col("ts_2"), "yyyy-MM-dd HH:mm:ss").as("t_click"),
          F.date_format(F.col("ts_3"), "yyyy-MM-dd HH:mm:ss")
            .as("t_purchase"),
          F.col("n_stages"))
        .orderBy("user_id"),
      // funnel replay: chained min-after-previous-stage CTEs, LEFT JOINs
      // keep stalled users, strftime for hash-stable timestamps
      """WITH s1 AS (
        |  SELECT user_id, min(ts) AS t1 FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (
        |  SELECT e.user_id, min(e.ts) AS t2
        |  FROM events e JOIN s1 USING (user_id)
        |  WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY 1),
        |s3 AS (
        |  SELECT e.user_id, min(e.ts) AS t3
        |  FROM events e JOIN s2 USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY 1)
        |SELECT s1.user_id,
        |  strftime(t1, '%Y-%m-%d %H:%M:%S') AS t_view,
        |  strftime(t2, '%Y-%m-%d %H:%M:%S') AS t_click,
        |  strftime(t3, '%Y-%m-%d %H:%M:%S') AS t_purchase,
        |  ((t1 IS NOT NULL)::BIGINT + (t2 IS NOT NULL)::BIGINT
        |    + (t3 IS NOT NULL)::BIGINT) AS n_stages
        |FROM s1
        |LEFT JOIN s2 ON s2.user_id = s1.user_id
        |LEFT JOIN s3 ON s3.user_id = s1.user_id
        |ORDER BY s1.user_id""".stripMargin),

    QuerySpec("q_topk_parts", (s, d) =>
      tbl(s, d, "part")
        .select(
          F.col("p_partkey"), F.col("p_brand"),
          F.round(F.col("p_retailprice"), 2).as("price"))
        .orderBy(F.col("price").desc, F.col("p_partkey").asc)
        .limit(10),
      """SELECT p_partkey, p_brand, round(p_retailprice, 2) AS price
        |FROM part
        |ORDER BY price DESC, p_partkey ASC
        |LIMIT 10""".stripMargin),

    QuerySpec("q_ntile_window", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("c_mktsegment").orderBy(F.col("c_acctbal").asc, F.col("c_custkey").asc)
      tbl(s, d, "customer")
        .select(
          F.col("c_mktsegment"), F.col("c_custkey"),
          F.ntile(4).over(w).as("quartile"),
          F.round(F.first("c_acctbal").over(w), 2).as("running_min"))
        .where(F.col("c_custkey") <= 200)
        .orderBy("c_mktsegment", "c_custkey")
    },
      """SELECT c_mktsegment, c_custkey,
        |  ntile(4) OVER w AS quartile,
        |  round(first_value(c_acctbal) OVER w, 2) AS running_min
        |FROM customer
        |WINDOW w AS (PARTITION BY c_mktsegment
        |  ORDER BY c_acctbal ASC, c_custkey ASC)
        |QUALIFY c_custkey <= 200
        |ORDER BY c_mktsegment, c_custkey""".stripMargin),

    QuerySpec("q_array_fns", (s, d) =>
      tbl(s, d, "embeddings")
        .select(
          F.col("vec_id").as("id"),
          F.round(F.array_max(F.col("embedding").cast("array<double>")), 4).as("vmax"),
          F.round(F.array_min(F.col("embedding").cast("array<double>")), 4).as("vmin"),
          F.size(F.col("embedding")).as("dim"),
          F.round(F.element_at(F.array_sort(F.col("embedding").cast("array<double>")), 1), 4).as("sorted_first"))
        .where(F.col("id") <= 50)
        .orderBy("id"),
      """SELECT vec_id AS id,
        |  round(list_max(CAST(embedding AS DOUBLE[])), 4) AS vmax,
        |  round(list_min(CAST(embedding AS DOUBLE[])), 4) AS vmin,
        |  len(embedding) AS dim,
        |  round(list_sort(CAST(embedding AS DOUBLE[]))[1], 4) AS sorted_first
        |FROM embeddings
        |WHERE vec_id <= 50
        |ORDER BY id""".stripMargin),

    QuerySpec("q_cond_agg", (s, d) =>
      tbl(s, d, "orders")
        .agg(
          F.count_if(F.col("o_orderstatus") === "F").as("n_f"),
          F.count_if(F.col("o_totalprice") > 100000).as("n_big"),
          F.round(F.sum(F.when(F.col("o_orderstatus") === "O", F.col("o_totalprice"))
            .otherwise(0.0)), 2).as("open_total")),
      """SELECT
        |  count(*) FILTER (o_orderstatus = 'F') AS n_f,
        |  count(*) FILTER (o_totalprice > 100000) AS n_big,
        |  round(sum(CASE WHEN o_orderstatus = 'O' THEN o_totalprice
        |    ELSE 0.0 END), 2) AS open_total
        |FROM orders""".stripMargin),

    QuerySpec("q_sql_correlated", (s, d) => {
      tbl(s, d, "customer").createOrReplaceTempView("customer_v")
      tbl(s, d, "orders").createOrReplaceTempView("orders_v")
      s.sql(
        """SELECT c_mktsegment, count(*) AS n_active
          |FROM customer_v c
          |WHERE EXISTS (SELECT 1 FROM orders_v o
          |  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 200000)
          |GROUP BY c_mktsegment
          |ORDER BY c_mktsegment""".stripMargin)
    },
      """SELECT c_mktsegment, count(*) AS n_active
        |FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 200000)
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin),

    QuerySpec("q_corr_stats", (s, d) =>
      tbl(s, d, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          F.round(F.corr("l_quantity", "l_extendedprice"), 4).as("corr_qty_price"),
          F.round(F.covar_samp("l_quantity", "l_extendedprice"), 2).as("covar_qty_price"),
          F.round(F.stddev_samp("l_extendedprice"), 2).as("std_price"),
          F.round(F.var_samp("l_discount"), 6).as("var_disc"))
        .orderBy("l_returnflag"),
      """SELECT l_returnflag,
        |  round(corr(l_quantity, l_extendedprice), 4) AS corr_qty_price,
        |  round(covar_samp(l_quantity, l_extendedprice), 2) AS covar_qty_price,
        |  round(stddev_samp(l_extendedprice), 2) AS std_price,
        |  round(var_samp(l_discount), 6) AS var_disc
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin),

    QuerySpec("q_percentiles", (s, d) =>
      tbl(s, d, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          F.round(F.expr("percentile(l_extendedprice, 0.5)"), 4).as("p50"),
          F.round(F.expr("percentile(l_extendedprice, 0.9)"), 4).as("p90"),
          F.round(F.expr("percentile(l_extendedprice, 0.99)"), 4).as("p99"))
        .orderBy("l_returnflag"),
      """SELECT l_returnflag,
        |  round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
        |  round(quantile_cont(l_extendedprice, 0.9), 4) AS p90,
        |  round(quantile_cont(l_extendedprice, 0.99), 4) AS p99
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin),

    QuerySpec("q_moving_avg", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("ts").rowsBetween(-2, 0)
      events(s, d)
        .where(F.col("user_id") <= 20)
        .select(
          F.col("user_id"), F.col("event_id"),
          F.round(F.avg("value").over(w), 4).as("mov_avg"))
        .orderBy("user_id", "event_id")
    },
      """SELECT user_id, event_id,
        |  round(avg(value) OVER (PARTITION BY user_id ORDER BY ts
        |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4) AS mov_avg
        |FROM events
        |WHERE user_id <= 20
        |ORDER BY user_id, event_id""".stripMargin),

    QuerySpec("q_rank_events", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("event_type")
        .orderBy(F.col("value").desc, F.col("event_id").asc)
      events(s, d)
        .withColumn("rk", F.rank().over(w))
        .where(F.col("rk") <= 5)
        .select(
          F.col("event_type"), F.col("rk"), F.col("event_id"),
          F.round(F.col("value"), 4).as("value"))
        .orderBy("event_type", "rk")
    },
      """SELECT event_type, rk, event_id, round(value, 4) AS value FROM (
        |  SELECT event_type, event_id, value,
        |    rank() OVER (PARTITION BY event_type
        |      ORDER BY value DESC, event_id ASC) AS rk
        |  FROM events)
        |WHERE rk <= 5
        |ORDER BY event_type, rk""".stripMargin),

    QuerySpec("q_date_parts", (s, d) =>
      tbl(s, d, "orders")
        .groupBy(
          F.year(F.col("o_orderdate")).as("yr"),
          F.quarter(F.col("o_orderdate")).as("qtr"))
        .agg(
          F.count(F.lit(1)).as("n_orders"),
          F.round(F.sum("o_totalprice"), 2).as("total"))
        .orderBy("yr", "qtr"),
      """SELECT year(o_orderdate) AS yr, quarter(o_orderdate) AS qtr,
        |  count(*) AS n_orders, round(sum(o_totalprice), 2) AS total
        |FROM orders
        |GROUP BY yr, qtr
        |ORDER BY yr, qtr""".stripMargin),

    QuerySpec("q_string_fns", (s, d) =>
      tbl(s, d, "part")
        .select(
          F.col("p_partkey"),
          F.upper(F.col("p_brand")).as("brand_uc"),
          F.substring(F.col("p_type"), 1, 6).as("type_pfx"),
          F.concat_ws("|", F.col("p_brand"), F.col("p_type")).as("bt"),
          F.length(F.col("p_name")).as("name_len"))
        .where(F.col("p_partkey") <= 100)
        .orderBy("p_partkey"),
      """SELECT p_partkey, upper(p_brand) AS brand_uc,
        |  substring(p_type, 1, 6) AS type_pfx,
        |  concat_ws('|', p_brand, p_type) AS bt,
        |  length(p_name) AS name_len
        |FROM part
        |WHERE p_partkey <= 100
        |ORDER BY p_partkey""".stripMargin),

    QuerySpec("q_math_fns", (s, d) =>
      tbl(s, d, "lineitem")
        .where(F.col("l_orderkey") <= 100)
        .select(
          F.col("l_orderkey"), F.col("l_linenumber"),
          F.round(F.sqrt(F.col("l_extendedprice")), 4).as("sqrt_price"),
          F.round(F.ln(F.col("l_extendedprice") + 1.0), 4).as("ln_price"),
          F.round(F.pow(F.col("l_discount"), 2.0), 6).as("disc_sq"),
          F.floor(F.col("l_quantity")).as("qty_floor"),
          F.round(F.abs(F.col("l_tax") - 0.04), 4).as("tax_dev"))
        .orderBy("l_orderkey", "l_linenumber"),
      """SELECT l_orderkey, l_linenumber,
        |  round(sqrt(l_extendedprice), 4) AS sqrt_price,
        |  round(ln(l_extendedprice + 1.0), 4) AS ln_price,
        |  round(pow(l_discount, 2.0), 6) AS disc_sq,
        |  CAST(floor(l_quantity) AS BIGINT) AS qty_floor,
        |  round(abs(l_tax - 0.04), 4) AS tax_dev
        |FROM lineitem
        |WHERE l_orderkey <= 100
        |ORDER BY l_orderkey, l_linenumber""".stripMargin),

    // pre-join skew diagnostic: top-N hottest keys with share and
    // cumulative share — one partial-agg shuffle + TakeOrdered, never
    // a global window over all keys
    QuerySpec("q_skew_report", (s, d) =>
      graft.scale.Skew.report(
        events(s, d).select("user_id"), "user_id", topN = 20),
      // shares replayed with the engine's EXACT integer half-up at 4dp
      // (see Skew.report): round() on a double diverged at a .5 ulp
      // boundary (0.00465 -> 0.0047 Spark vs 0.0046 DuckDB at sf0.1)
      """WITH c AS (
        |  SELECT coalesce(CAST(user_id AS VARCHAR), 'NULL') AS key,
        |    count(*) AS n
        |  FROM events GROUP BY 1),
        |tot AS (SELECT count(*) AS t FROM events),
        |top AS (SELECT key, n,
        |  row_number() OVER (ORDER BY n DESC, key ASC) AS rank
        |  FROM c ORDER BY n DESC, key ASC LIMIT 20)
        |SELECT rank, key, n,
        |  CAST((n * 20000 + tot.t) // (2 * tot.t) AS DOUBLE) / 10000.0
        |    AS share,
        |  CAST((sum(n) OVER (ORDER BY rank) * 20000 + tot.t)
        |    // (2 * tot.t) AS DOUBLE) / 10000.0 AS cum_share
        |FROM top CROSS JOIN tot
        |ORDER BY rank""".stripMargin),

    // Morton keys for Z-ordered layout: both dims quantized over their
    // measured domain, bit-interleaved in pure column algebra — the
    // key zorderWrite files/sorts by so footer min/max prunes BOTH dims
    QuerySpec("q_zorder_values", (s, d) => {
      val ev = events(s, d)
        .where(F.col("event_id") < 2000)
        .select("event_id", "user_id", "value")
      val st = ev.agg(
        F.min(F.col("user_id").cast("double")),
        F.max(F.col("user_id").cast("double")),
        F.min("value"), F.max("value")).head()
      ev.select(
        F.col("event_id"),
        graft.operators.Layout.zvalue(
          graft.operators.Layout.quantize(
            F.col("user_id"), st.getDouble(0), st.getDouble(1), 8),
          graft.operators.Layout.quantize(
            F.col("value"), st.getDouble(2), st.getDouble(3), 8),
          8).as("zv"))
        .orderBy("event_id")
    },
      // Morton replay: same measured-domain quantization arithmetic
      // (identical IEEE op order: (x−mn)/(mx−mn)·255, floor, clamp) and
      // the unrolled bit-interleave
      {
      def q(col: String, mn: String, mx: String): String =
        s"greatest(0, least(255, CAST(floor((CAST($col AS DOUBLE) - $mn)" +
          s" / ($mx - $mn) * 255) AS BIGINT)))"
      val interleave = (0 until 8).map(i =>
        s"(((qa >> $i) & 1) << ${2 * i}) | (((qb >> $i) & 1) << ${2 * i + 1})")
        .mkString(" | ")
      s"""WITH src AS (SELECT event_id, user_id, value FROM events
         |  WHERE event_id < 2000),
         |st AS (SELECT CAST(min(user_id) AS DOUBLE) AS amn,
         |  CAST(max(user_id) AS DOUBLE) AS amx,
         |  min(value) AS bmn, max(value) AS bmx FROM src),
         |qv AS (SELECT event_id,
         |  ${q("user_id", "st.amn", "st.amx")} AS qa,
         |  ${q("value", "st.bmn", "st.bmx")} AS qb
         |  FROM src CROSS JOIN st)
         |SELECT event_id, $interleave AS zv FROM qv
         |ORDER BY event_id""".stripMargin
    }),

    // Deequ-style one-pass table profile: per column — rows, nulls,
    // exact distinct (single scan through an Expand), numeric
    // min/max/mean/std
    QuerySpec("q_data_profile", (s, d) =>
      graft.operators.Profile.profile(
        docs(s, d), Seq("doc_id", "lang", "n_chars", "source", "text")),
      """SELECT * FROM (
        |  SELECT 'doc_id' AS "column", count(*) AS n_rows,
        |    sum(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_nulls,
        |    count(DISTINCT doc_id) AS n_distinct,
        |    CAST(min(doc_id) AS DOUBLE) AS min_v,
        |    CAST(max(doc_id) AS DOUBLE) AS max_v,
        |    round(avg(doc_id), 4) AS mean_v,
        |    round(stddev_samp(doc_id), 4) AS std_v
        |  FROM documents
        |  UNION ALL
        |  SELECT 'lang', count(*),
        |    sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END)::BIGINT,
        |    count(DISTINCT lang), NULL, NULL, NULL, NULL
        |  FROM documents
        |  UNION ALL
        |  SELECT 'n_chars', count(*),
        |    sum(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END)::BIGINT,
        |    count(DISTINCT n_chars),
        |    CAST(min(n_chars) AS DOUBLE), CAST(max(n_chars) AS DOUBLE),
        |    round(avg(n_chars), 4), round(stddev_samp(n_chars), 4)
        |  FROM documents
        |  UNION ALL
        |  SELECT 'source', count(*),
        |    sum(CASE WHEN source IS NULL THEN 1 ELSE 0 END)::BIGINT,
        |    count(DISTINCT source), NULL, NULL, NULL, NULL
        |  FROM documents
        |  UNION ALL
        |  SELECT 'text', count(*),
        |    sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END)::BIGINT,
        |    count(DISTINCT text), NULL, NULL, NULL, NULL
        |  FROM documents)
        |ORDER BY "column"""".stripMargin),

    // PSI drift monitor: reference-decile buckets (round-6 edges so
    // both engines bucket identically), per-bucket (p−q)·ln(p/q)
    // terms — sum is the published 0.1/0.25 drift index
    QuerySpec("q_drift_psi", (s, d) => {
      val o = tbl(s, d, "orders")
      graft.operators.Profile.psiBuckets(
        o.where(F.col("o_orderdate") < F.lit("1996-01-01")),
        o.where(F.col("o_orderdate") >= F.lit("1996-01-01")),
        "o_totalprice")
    },
      // PSI replay: round-6 reference deciles, the same CASE bucketing,
      // eps-floored natural-log terms
      {
      val edList = (1 to 9)
        .map(i => s"round(quantile_cont(v, 0.$i), 6)").mkString(", ")
      val caseB = (1 to 9).map(i => s"WHEN v <= ed[$i] THEN ${i - 1}")
        .mkString(" ")
      s"""WITH ref AS (SELECT o_totalprice AS v FROM orders
         |  WHERE o_orderdate < TIMESTAMP '1996-01-01'),
         |cur AS (SELECT o_totalprice AS v FROM orders
         |  WHERE o_orderdate >= TIMESTAMP '1996-01-01'),
         |e AS (SELECT [$edList] AS ed FROM ref),
         |rc AS (SELECT bucket, count(*) AS n_ref FROM (
         |  SELECT CASE $caseB ELSE 9 END AS bucket
         |  FROM ref CROSS JOIN e) GROUP BY bucket),
         |cc AS (SELECT bucket, count(*) AS n_cur FROM (
         |  SELECT CASE $caseB ELSE 9 END AS bucket
         |  FROM cur CROSS JOIN e) GROUP BY bucket),
         |b AS (SELECT range::INT AS bucket FROM range(10)),
         |j AS (SELECT b.bucket, coalesce(rc.n_ref, 0) AS n_ref,
         |  coalesce(cc.n_cur, 0) AS n_cur
         |  FROM b LEFT JOIN rc USING (bucket) LEFT JOIN cc USING (bucket)),
         |t AS (SELECT sum(n_ref)::DOUBLE AS tr, sum(n_cur)::DOUBLE AS tc
         |  FROM j)
         |SELECT j.bucket,
         |  CASE WHEN j.bucket >= 1 THEN ed[j.bucket] END AS lo,
         |  CASE WHEN j.bucket <= 8 THEN ed[j.bucket + 1] END AS hi,
         |  j.n_ref, j.n_cur,
         |  round((j.n_ref / t.tr - j.n_cur / t.tc) *
         |    ln(greatest(j.n_ref / t.tr, 0.000001) /
         |      greatest(j.n_cur / t.tc, 0.000001)), 6) AS psi_term
         |FROM j CROSS JOIN t CROSS JOIN e
         |ORDER BY j.bucket""".stripMargin
    }),

    // SymSpell deletion-neighborhood fuzzy self-join: customer names
    // are zero-padded serials, so edit-distance-1 pairs are the names
    // differing in exactly one digit
    // Fellegi-Sunter entity resolution: deletion-join blocking on the
    // name, log2(m/u) field weights (constants shared verbatim with
    // the oracle), links at score >= 0 closed transitively, canonical
    // id = entity minimum
    QuerySpec("q_entity_resolve", (s, d) => {
      import graft.operators.EntityResolution
      EntityResolution.resolve(
        tbl(s, d, "customer").where(F.col("c_custkey") <= 500),
        "c_custkey", "c_name",
        name = ErNameW,
        fields = Seq(ErNatW, ErSegW),
        threshold = 0.0)
    },
      // FS replay: same blocking predicate (lev <= 1), the same weight
      // CONSTANTS interpolated from the Scala FieldWeights (double
      // round-trip via toString — no independent log2 evaluation to
      // drift), threshold on the rounded score, recursive min-label CC
      s"""WITH RECURSIVE c AS (
        |  SELECT c_custkey AS id, c_name AS name,
        |    c_nationkey AS nat, c_mktsegment AS seg
        |  FROM customer WHERE c_custkey <= 500),
        |p AS (
        |  SELECT a.id AS id_a, b.id AS id_b,
        |    round((CASE WHEN levenshtein(a.name, b.name) = 0
        |        THEN ${ErNameW.agreeW} ELSE ${ErNameW.disagreeW} END)
        |      + (CASE WHEN a.nat = b.nat
        |        THEN ${ErNatW.agreeW} ELSE ${ErNatW.disagreeW} END)
        |      + (CASE WHEN a.seg = b.seg
        |        THEN ${ErSegW.agreeW} ELSE ${ErSegW.disagreeW} END), 4)
        |      AS score
        |  FROM c a JOIN c b
        |  ON a.id < b.id AND levenshtein(a.name, b.name) <= 1),
        |dup AS (SELECT id_a, id_b FROM p WHERE score >= 0.0),
        |sym AS (
        |  SELECT id_a AS src, id_b AS dst FROM dup
        |  UNION SELECT id_b AS src, id_a AS dst FROM dup),
        |nodes AS (SELECT DISTINCT src AS id FROM sym),
        |r(id, lab) AS (
        |  SELECT id, id FROM nodes
        |  UNION
        |  SELECT s.dst, r.lab FROM r JOIN sym s ON s.src = r.id
        |  WHERE r.lab < s.dst)
        |SELECT id, min(lab) AS canonical FROM r
        |GROUP BY id ORDER BY id""".stripMargin),

    QuerySpec("q_json_props", (s, d) =>
      events(s, d)
        .select(F.get_json_object(F.col("props"), "$.k").cast("int").as("k"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).as("n"))
        .orderBy("k"),
      """SELECT CAST(json_extract_string(props, '$.k') AS INT) AS k,
        |  count(*) AS n
        |FROM events
        |GROUP BY k
        |ORDER BY k""".stripMargin),

    // relational surface: PIVOT with an explicit value list (explicit
    // so the plan is one partial-agg pass, no distinct-values job)
    QuerySpec("q_pivot_events", (s, d) =>
      events(s, d)
        .groupBy("user_id")
        .pivot("event_type", Seq("click", "view", "purchase"))
        .agg(F.count(F.lit(1)))
        .na.fill(0L)
        .where(F.col("user_id") < 50)
        .orderBy("user_id"),
      """SELECT user_id,
        |  sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)::BIGINT
        |    AS click,
        |  sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)::BIGINT
        |    AS view,
        |  sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT
        |    AS purchase
        |FROM events
        |GROUP BY user_id
        |HAVING user_id < 50
        |ORDER BY user_id""".stripMargin),

    // relational surface: GROUPING SETS with grouping_id — the
    // arbitrary-set sibling of q_rollup/q_cube
    QuerySpec("q_grouping_sets", (s, d) => {
      tbl(s, d, "orders").createOrReplaceTempView("orders_gs")
      s.sql(
        """SELECT o_orderstatus, o_orderpriority,
          |  count(*) AS n, round(sum(o_totalprice), 2) AS revenue,
          |  CAST(grouping(o_orderstatus) AS INT) AS g_status,
          |  CAST(grouping(o_orderpriority) AS INT) AS g_prio
          |FROM orders_gs
          |GROUP BY GROUPING SETS (
          |  (o_orderstatus), (o_orderpriority),
          |  (o_orderstatus, o_orderpriority))
          |ORDER BY g_status, g_prio, o_orderstatus, o_orderpriority""".stripMargin)
    },
      """SELECT o_orderstatus, o_orderpriority,
        |  count(*) AS n, round(sum(o_totalprice), 2) AS revenue,
        |  (CASE WHEN GROUPING(o_orderstatus) THEN 1 ELSE 0 END)::INT
        |    AS g_status,
        |  (CASE WHEN GROUPING(o_orderpriority) THEN 1 ELSE 0 END)::INT
        |    AS g_prio
        |FROM orders
        |GROUP BY GROUPING SETS (
        |  (o_orderstatus), (o_orderpriority),
        |  (o_orderstatus, o_orderpriority))
        |ORDER BY g_status, g_prio,
        |  o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin),

    QuerySpec("q_sessionize", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val ev = eventsUs(s, d)
      val byUser = Window.partitionBy("user_id").orderBy("ts")
      ev
        .withColumn("prev_ts", F.lag("ts", 1).over(byUser))
        .withColumn(
          "new_session",
          F.when(
            F.col("prev_ts").isNull ||
              F.col("ts").cast("long") - F.col("prev_ts").cast("long") > 1800, 1)
            .otherwise(0))
        .withColumn("session_id", F.sum("new_session").over(byUser))
        .groupBy("user_id")
        .agg(
          F.max("session_id").as("n_sessions"),
          F.count(F.lit(1)).as("n_events"))
        .orderBy("user_id")
    },
      """WITH marked AS (
        |  SELECT user_id, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |      OR epoch(ts) - epoch(lag(ts) OVER w) > 1800 THEN 1 ELSE 0
        |    END AS new_session
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |sess AS (
        |  SELECT user_id,
        |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS UNBOUNDED PRECEDING) AS session_id
        |  FROM marked)
        |SELECT user_id, CAST(max(session_id) AS BIGINT) AS n_sessions,
        |  count(*) AS n_events
        |FROM sess
        |GROUP BY user_id
        |ORDER BY user_id""".stripMargin),

    QuerySpec("q_rollup_revenue", (s, d) =>
      tbl(s, d, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(F.round(F.sum("l_extendedprice"), 2).as("revenue"))
        .select(
          F.coalesce(F.col("l_returnflag"), F.lit("ALL")).as("rf"),
          F.coalesce(F.col("l_linestatus"), F.lit("ALL")).as("ls"),
          F.col("revenue"))
        .orderBy("rf", "ls"),
      """SELECT coalesce(l_returnflag, 'ALL') AS rf,
        |  coalesce(l_linestatus, 'ALL') AS ls,
        |  round(sum(l_extendedprice), 2) AS revenue
        |FROM lineitem
        |GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY rf, ls""".stripMargin),

    QuerySpec("q_cube_stats", (s, d) =>
      tbl(s, d, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).as("n"))
        .select(
          F.coalesce(F.col("o_orderstatus"), F.lit("ALL")).as("st"),
          F.coalesce(F.col("o_orderpriority"), F.lit("ALL")).as("pr"),
          F.col("n"))
        .orderBy("st", "pr"),
      """SELECT coalesce(o_orderstatus, 'ALL') AS st,
        |  coalesce(o_orderpriority, 'ALL') AS pr, count(*) AS n
        |FROM orders
        |GROUP BY CUBE(o_orderstatus, o_orderpriority)
        |ORDER BY st, pr""".stripMargin),

    QuerySpec("q_set_ops", (s, d) => {
      val all = tbl(s, d, "orders").select("o_custkey").distinct()
      val f = tbl(s, d, "orders")
        .where(F.col("o_orderstatus") === "F").select("o_custkey").distinct()
      val o = tbl(s, d, "orders")
        .where(F.col("o_orderstatus") === "O").select("o_custkey").distinct()
      val both = f.intersect(o)
      val onlyF = f.except(o)
      val spark = s
      import spark.implicits._
      Seq((all.count(), both.count(), onlyF.count()))
        .toDF("n_custs", "n_both", "n_only_f")
    },
      """SELECT
        |  (SELECT count(DISTINCT o_custkey) FROM orders) AS n_custs,
        |  (SELECT count(*) FROM
        |    (SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'F'
        |     INTERSECT
        |     SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'O'))
        |    AS n_both,
        |  (SELECT count(*) FROM
        |    (SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'F'
        |     EXCEPT
        |     SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'O'))
        |    AS n_only_f""".stripMargin),

    // MERGE INTO semantics: a deterministic changelog derived from the
    // orders table (deletes on %10=7, a superseded then a winning
    // update on %10=4, an update on %10=1, inserts on %10=2 at shifted
    // keys) applied via last-writer-wins CDC merge
    QuerySpec("q_merge_upsert", (s, d) =>
      graft.operators.Cdc.mergeChanges(
          ordersSnapshot(s, d), ordersChangelog(s, d),
          keys = Seq("o_orderkey"))
        .orderBy("o_orderkey"),
      // MERGE replay: same derived changelog, row_number (seq desc, op
      // desc) picks the winner, full join applies it; 'D' winners drop
      """WITH snap AS (
        |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
        |  FROM orders),
        |ch AS (
        |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |    'D' AS op, 1 AS seq FROM snap WHERE o_orderkey % 10 = 7
        |  UNION ALL
        |  SELECT o_orderkey, o_custkey, o_orderstatus,
        |    round(o_totalprice * 2, 4), 'U', 1 FROM snap
        |  WHERE o_orderkey % 10 = 4
        |  UNION ALL
        |  SELECT o_orderkey, o_custkey, o_orderstatus,
        |    round(o_totalprice * 1.1, 4), 'U', 2 FROM snap
        |  WHERE o_orderkey % 10 IN (1, 4)
        |  UNION ALL
        |  SELECT o_orderkey + 1000000, o_custkey, o_orderstatus,
        |    o_totalprice, 'I', 1 FROM snap WHERE o_orderkey % 10 = 2),
        |latest AS (
        |  SELECT * FROM (
        |    SELECT *, row_number() OVER (PARTITION BY o_orderkey
        |      ORDER BY seq DESC, op DESC) AS rn FROM ch)
        |  WHERE rn = 1)
        |SELECT coalesce(l.o_orderkey, s.o_orderkey) AS o_orderkey,
        |  CASE WHEN l.op IS NOT NULL THEN l.o_custkey
        |    ELSE s.o_custkey END AS o_custkey,
        |  CASE WHEN l.op IS NOT NULL THEN l.o_orderstatus
        |    ELSE s.o_orderstatus END AS o_orderstatus,
        |  CASE WHEN l.op IS NOT NULL THEN l.o_totalprice
        |    ELSE s.o_totalprice END AS o_totalprice
        |FROM snap s FULL JOIN latest l ON l.o_orderkey = s.o_orderkey
        |WHERE l.op IS NULL OR l.op <> 'D'
        |ORDER BY o_orderkey""".stripMargin),

    // the same changelog as an SCD2 history table: per-key version
    // intervals in seq coordinates, deletes close without emitting
    QuerySpec("q_scd2_history", (s, d) =>
      graft.operators.Cdc.scd2History(
          ordersChangelog(s, d), keys = Seq("o_orderkey"))
        .withColumn("is_current", F.col("is_current").cast("int"))
        .orderBy("o_orderkey", "valid_from_seq"),
      // SCD2 replay: lead(seq) over (seq asc, op asc) closes each
      // version at the key's next change; 'D' rows close but emit none
      """WITH snap AS (
        |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
        |  FROM orders),
        |ch AS (
        |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |    'D' AS op, 1 AS seq FROM snap WHERE o_orderkey % 10 = 7
        |  UNION ALL
        |  SELECT o_orderkey, o_custkey, o_orderstatus,
        |    round(o_totalprice * 2, 4), 'U', 1 FROM snap
        |  WHERE o_orderkey % 10 = 4
        |  UNION ALL
        |  SELECT o_orderkey, o_custkey, o_orderstatus,
        |    round(o_totalprice * 1.1, 4), 'U', 2 FROM snap
        |  WHERE o_orderkey % 10 IN (1, 4)
        |  UNION ALL
        |  SELECT o_orderkey + 1000000, o_custkey, o_orderstatus,
        |    o_totalprice, 'I', 1 FROM snap WHERE o_orderkey % 10 = 2),
        |v AS (
        |  SELECT *, lead(seq) OVER (PARTITION BY o_orderkey
        |    ORDER BY seq ASC, op ASC) AS vt FROM ch)
        |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |  seq::BIGINT AS valid_from_seq, vt::BIGINT AS valid_to_seq,
        |  (vt IS NULL)::INT AS is_current
        |FROM v WHERE op <> 'D'
        |ORDER BY o_orderkey, valid_from_seq""".stripMargin),

    QuerySpec("q_asof_enrich", (s, d) => {
      // as-of join (engine addition): each click enriched with the
      // most recent prior view's value for the same user.
      val ev = eventsUs(s, d)
      val clicks = ev.where(F.col("event_type") === "click")
      val views = ev.where(F.col("event_type") === "view")
      graft.operators.AsOfJoin
        .asofJoin(clicks, views, "user_id", "ts", "ts", Seq("value"))
        .select(
          F.col("event_id"), F.col("user_id"),
          F.round(F.col("value"), 2).as("click_value"),
          F.round(F.col("asof_value"), 2).as("last_view_value"))
        .orderBy("event_id")
    },
      """SELECT l.event_id, l.user_id,
        |  round(l.value, 2) AS click_value,
        |  round(r.value, 2) AS last_view_value
        |FROM (SELECT * FROM events WHERE event_type = 'click') l
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') r
        |  ON l.user_id = r.user_id AND l.ts >= r.ts
        |ORDER BY l.event_id""".stripMargin),

    QuerySpec("q_range_join", (s, d) => {
      // bucketed range join (engine addition): for each error event,
      // count same-user clicks within ±5 minutes.
      val ev = eventsUs(s, d)
      val errors = ev.where(F.col("event_type") === "error")
        .select("event_id", "user_id", "ts")
      val clicks = ev.where(F.col("event_type") === "click")
        .select(F.col("user_id"), F.col("ts"), F.col("event_id").as("click_id"))
      graft.operators.RangeJoin
        .rangeJoin(errors, clicks, "user_id", "ts", "ts", Seq("click_id"), 300L)
        .groupBy("event_id", "user_id")
        .agg(F.count(F.lit(1)).as("n_near_clicks"))
        .orderBy("event_id")
    },
      """SELECT l.event_id, l.user_id, count(*) AS n_near_clicks
        |FROM (SELECT event_id, user_id, ts FROM events
        |      WHERE event_type = 'error') l
        |JOIN (SELECT user_id, ts FROM events WHERE event_type = 'click') r
        |  ON l.user_id = r.user_id
        | AND abs(epoch_us(l.ts) - epoch_us(r.ts)) <= 300000000
        |GROUP BY l.event_id, l.user_id
        |ORDER BY l.event_id""".stripMargin),

    QuerySpec("q_interval_overlap", (s, d) => {
      // interval-overlap join (engine addition): each event is held
      // open for 1-5 minutes (deterministic in event_id); count
      // concurrent-activity pairs per user and the longest overlap.
      // Naive SQL is an inequality self-join (nested-loop); the
      // operator buckets both interval sets so candidates meet in one
      // equi-join shuffle.
      val iv = eventsUs(s, d).select(
        F.col("event_id"), F.col("user_id"), F.col("ts").as("s"),
        F.timestamp_micros(
          F.unix_micros(F.col("ts")) +
            (F.lit(1L) + F.col("event_id") % 5L) * 60000000L).as("e"))
      graft.operators.RangeJoin
        .intervalOverlapJoin(
          iv, iv, "user_id", "s", "e", "s", "e",
          Seq("event_id", "s", "e"), bucketWidthSec = 600L)
        .where(F.col("event_id") < F.col("r_event_id"))
        .groupBy("user_id")
        .agg(
          F.count(F.lit(1)).as("n_overlap_pairs"),
          F.max(F.floor(
            (F.unix_micros(F.least(F.col("e"), F.col("r_e"))) -
              F.unix_micros(F.greatest(F.col("s"), F.col("r_s")))) / 1000000L))
            .as("max_overlap_sec"))
        .orderBy("user_id")
    },
      """WITH iv AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS s,
        |         epoch_us(ts) + (1 + event_id % 5) * 60000000 AS e
        |  FROM events)
        |SELECT a.user_id, count(*) AS n_overlap_pairs,
        |  max((least(a.e, b.e) - greatest(a.s, b.s)) // 1000000)
        |    AS max_overlap_sec
        |FROM iv a JOIN iv b
        |  ON a.user_id = b.user_id AND a.event_id < b.event_id
        | AND a.s <= b.e AND b.s <= a.e
        |GROUP BY a.user_id
        |ORDER BY a.user_id""".stripMargin),

    QuerySpec("q_anomaly_events", (s, d) => {
      // trailing z-score anomaly hours (engine addition): hourly event
      // counts per type densified by resampleGapFill (quiet hours are
      // real zeros, not missing baseline rows), each hour scored
      // against the previous 24 hours, |z| >= 2 flagged.
      val hourly = graft.operators.TimeSeries
        .resampleGapFill(eventsUs(s, d), "event_type", "ts", "value", "hour")
      graft.operators.TimeSeries
        .anomalyZScore(hourly, "event_type", "bucket_ts", "n_events",
          trailing = 24, minPoints = 8, zThreshold = 2.0)
        .where(F.col("is_anomaly"))
        .select(
          F.col("event_type"),
          F.date_format(F.col("bucket_ts"), "yyyy-MM-dd HH:mm:ss").as("hour"),
          F.col("n_events"), F.col("z"))
        .orderBy("event_type", "hour")
    },
      """WITH agg AS (
        |  SELECT event_type, date_trunc('hour', ts) AS b, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |span AS (
        |  SELECT event_type, min(b) AS lo, max(b) AS hi
        |  FROM agg GROUP BY 1),
        |grid AS (
        |  SELECT event_type,
        |    unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS b
        |  FROM span),
        |j AS (
        |  SELECT g.event_type, g.b, coalesce(a.n, 0)::BIGINT AS n
        |  FROM grid g LEFT JOIN agg a USING (event_type, b)),
        |sc AS (
        |  SELECT event_type, b, n,
        |    count(n) OVER w AS nb, avg(n) OVER w AS m,
        |    stddev_samp(n) OVER w AS sd
        |  FROM j
        |  WINDOW w AS (PARTITION BY event_type ORDER BY b
        |    ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING))
        |SELECT event_type, strftime(b, '%Y-%m-%d %H:%M:%S') AS hour,
        |  n AS n_events, round((n - m) / sd, 4) AS z
        |FROM sc
        |WHERE nb >= 8 AND sd > 0
        |  AND abs(round((n - m) / sd, 4)) >= 2.0
        |ORDER BY event_type, hour""".stripMargin)
  )
}
