package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.etl.Recode

import Shared._

/** Relational queries over the TPC-H-shaped tables and the event log:
  * scans, joins, aggregates, windows, sessions, as-of and range joins.
  */
object RelationalQueries {

  val all: Seq[Query] = Seq(
    // q01: TPC-H-Q1-style pricing summary: scan+filter pushdown, hash
    // aggregate (SURVEY A1/A2/P3); the driver's flagship entry query
    Query.fixed("q01_pricing_summary", (s, dir) =>
      t(s, dir, "lineitem")
        .where(to_date(col("l_shipdate")) <= lit("1998-09-02"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
          round(avg(col("l_quantity")), 4).as("avg_qty"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus")),
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS sum_base_price,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
        |  round(avg(l_quantity), 4) AS avg_qty,
        |  count(*) AS count_order
        |FROM lineitem WHERE CAST(l_shipdate AS DATE) <= DATE '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin),

    // q02: filter + projection pushdown, single scalar agg (TPC-H Q6 shape)
    Query.fixed("q02_revenue", (s, dir) =>
      t(s, dir, "lineitem")
        .where(to_date(col("l_shipdate")).between("1995-01-01", "1996-12-31")
          && col("l_discount").between(0.03, 0.07) && col("l_quantity") < 24)
        .agg(round(sum(col("l_extendedprice") * col("l_discount")), 2).as("revenue")),
      """SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
        |FROM lineitem
        |WHERE CAST(l_shipdate AS DATE) BETWEEN DATE '1995-01-01' AND DATE '1996-12-31'
        |  AND l_discount BETWEEN 0.03 AND 0.07 AND l_quantity < 24""".stripMargin),

    // q03: multi-way join, small dims broadcast (SURVEY §2.5 J2)
    Query.fixed("q03_join_nations", (s, dir) =>
      t(s, dir, "orders")
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_orders"), round(sum(col("o_totalprice")), 2).as("total_price"))
        .orderBy(col("r_name"), col("n_name")),
      """SELECT r_name, n_name, count(*) AS n_orders, round(sum(o_totalprice), 2) AS total_price
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin),

    // q04: fused conditional counts — the metric-engine workhorse (SURVEY A1,
    // §2.7): ~6 predicates in ONE pass instead of one scan per count
    Query.fixed("q04_conditional_counts", (s, dir) =>
      t(s, dir, "orders").agg(
        count(lit(1)).as("n_total"),
        sum(when(col("o_orderstatus") === "F", 1L).otherwise(0L)).as("n_f"),
        sum(when(col("o_orderstatus") === "O", 1L).otherwise(0L)).as("n_o"),
        sum(when(col("o_orderstatus") === "P", 1L).otherwise(0L)).as("n_p"),
        sum(when(col("o_totalprice") > 100000, 1L).otherwise(0L)).as("n_high"),
        sum(when(col("o_orderpriority") === "1-URGENT" && col("o_totalprice") > 100000, 1L)
          .otherwise(0L)).as("n_urgent_high")),
      """SELECT count(*) AS n_total,
        |  CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
        |  CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o,
        |  CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_p,
        |  CAST(sum(CASE WHEN o_totalprice > 100000 THEN 1 ELSE 0 END) AS BIGINT) AS n_high,
        |  CAST(sum(CASE WHEN o_orderpriority = '1-URGENT' AND o_totalprice > 100000 THEN 1 ELSE 0 END) AS BIGINT) AS n_urgent_high
        |FROM orders""".stripMargin),

    // q05: distinct (SURVEY A3)
    Query.fixed("q05_distinct_flags", (s, dir) =>
      t(s, dir, "lineitem").select(col("l_returnflag"), col("l_linestatus"))
        .distinct().orderBy(col("l_returnflag"), col("l_linestatus")),
      "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem ORDER BY l_returnflag, l_linestatus"),

    // q06: union + re-aggregate (SURVEY §2.8 set ops)
    Query.fixed("q06_union_parts", (s, dir) => {
      val p = t(s, dir, "part")
      val small = p.where(col("p_size") < 10).withColumn("size_class", lit("small"))
      val large = p.where(col("p_size") >= 40).withColumn("size_class", lit("large"))
      small.unionByName(large)
        .groupBy(col("size_class"), col("p_brand"))
        .agg(count(lit(1)).as("n_parts"), round(avg(col("p_retailprice")), 4).as("avg_price"))
        .orderBy(col("size_class"), col("p_brand"))
    },
      """WITH u AS (
        |  SELECT *, 'small' AS size_class FROM part WHERE p_size < 10
        |  UNION ALL
        |  SELECT *, 'large' AS size_class FROM part WHERE p_size >= 40)
        |SELECT size_class, p_brand, count(*) AS n_parts, round(avg(p_retailprice), 4) AS avg_price
        |FROM u GROUP BY size_class, p_brand ORDER BY size_class, p_brand""".stripMargin),

    // q07: quantile binning via ntile (SURVEY A5/F4 analog, deterministic).
    // NOT ntile().over(Window.orderBy(...)) — that funnels every row through
    // one task; Ranking.withNtile range-partitions, offsets, and applies the
    // exact ntile bucket formula, all stages parallel.
    Query.fixed("q07_ntile_orders", (s, dir) =>
      graft.etl.Ranking.withNtile(t(s, dir, "orders"),
        Seq(col("o_totalprice"), col("o_orderkey")), 5, "bucket")
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"),
          round(min(col("o_totalprice")), 2).as("lo"),
          round(max(col("o_totalprice")), 2).as("hi"))
        .orderBy(col("bucket")),
      """WITH b AS (SELECT o_totalprice, ntile(5) OVER (ORDER BY o_totalprice, o_orderkey) AS bucket FROM orders)
        |SELECT bucket, count(*) AS n, round(min(o_totalprice), 2) AS lo, round(max(o_totalprice), 2) AS hi
        |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin),

    // q08: exact top-k per group via ranking window — the sampler's window
    // shape (SURVEY §2.2 step 3, deterministic variant)
    Query.fixed("q08_topk_per_segment", (s, dir) =>
      t(s, dir, "customer")
        .withColumn("rank", row_number().over(
          Window.partitionBy(col("c_mktsegment")).orderBy(col("c_acctbal").desc, col("c_custkey"))))
        .where(col("rank") <= 3)
        .select(col("c_mktsegment"), col("rank"), col("c_custkey"), round(col("c_acctbal"), 2).as("acctbal"))
        .orderBy(col("c_mktsegment"), col("rank")),
      """WITH r AS (SELECT c_mktsegment, c_custkey, c_acctbal,
        |  row_number() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey) AS rank
        |  FROM customer)
        |SELECT c_mktsegment, rank, c_custkey, round(c_acctbal, 2) AS acctbal
        |FROM r WHERE rank <= 3 ORDER BY c_mktsegment, rank""".stripMargin),

    // q09: z-score standardization (SURVEY A4) — agg + broadcast, no
    // single-partition window
    Query.fixed("q09_zscore_acctbal", (s, dir) => {
      val c = t(s, dir, "customer")
      val stats = c.agg(avg(col("c_acctbal")).as("m"), stddev_samp(col("c_acctbal")).as("sd"))
      c.crossJoin(broadcast(stats))
        .select(col("c_custkey"), round((col("c_acctbal") - col("m")) / col("sd"), 4).as("z"))
        .orderBy(col("c_custkey"))
    },
      """SELECT c_custkey, round((c_acctbal - m) / sd, 4) AS z
        |FROM customer, (SELECT avg(c_acctbal) AS m, stddev_samp(c_acctbal) AS sd FROM customer)
        |ORDER BY c_custkey""".stripMargin),

    // q10: explicit-edge binning (SURVEY F3, pandas cut semantics)
    Query.fixed("q10_cut_quantity", (s, dir) =>
      t(s, dir, "lineitem")
        .withColumn("qty_bin", Recode.cut(col("l_quantity"),
          Seq(0, 10, 25, 40, 51), Seq("xs", "s", "m", "l")))
        .groupBy(col("qty_bin")).agg(count(lit(1)).as("n"))
        .orderBy(col("qty_bin")),
      """SELECT CASE WHEN l_quantity > 0 AND l_quantity <= 10 THEN 'xs'
        |            WHEN l_quantity > 10 AND l_quantity <= 25 THEN 's'
        |            WHEN l_quantity > 25 AND l_quantity <= 40 THEN 'm'
        |            WHEN l_quantity > 40 AND l_quantity <= 51 THEN 'l' END AS qty_bin,
        |  count(*) AS n
        |FROM lineitem GROUP BY 1 ORDER BY qty_bin""".stripMargin),

    // q11: one-hot with literal column-per-value semantics (SURVEY F5)
    Query.fixed("q11_onehot_priority", (s, dir) =>
      t(s, dir, "orders")
        .groupBy(col("o_orderstatus"))
        .agg(
          sum(when(col("o_orderpriority") === "1-URGENT", 1L).otherwise(0L)).as("p_urgent"),
          sum(when(col("o_orderpriority") === "2-HIGH", 1L).otherwise(0L)).as("p_high"),
          sum(when(col("o_orderpriority") === "3-MEDIUM", 1L).otherwise(0L)).as("p_medium"),
          sum(when(col("o_orderpriority") === "4-NOT SPECIFIED", 1L).otherwise(0L)).as("p_notspec"),
          sum(when(col("o_orderpriority") === "5-LOW", 1L).otherwise(0L)).as("p_low"))
        .orderBy(col("o_orderstatus")),
      """SELECT o_orderstatus,
        |  CAST(sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT) AS p_urgent,
        |  CAST(sum(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END) AS BIGINT) AS p_high,
        |  CAST(sum(CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 ELSE 0 END) AS BIGINT) AS p_medium,
        |  CAST(sum(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 1 ELSE 0 END) AS BIGINT) AS p_notspec,
        |  CAST(sum(CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0 END) AS BIGINT) AS p_low
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),

    // q12: value-map replace + cast (SURVEY P9/P10)
    Query.fixed("q12_replace_region", (s, dir) =>
      t(s, dir, "nation")
        .withColumn("region_code", Recode.replaceValues(col("n_regionkey").cast("string"),
          Map("0" -> "AFR", "1" -> "AME", "2" -> "ASI", "3" -> "EUR", "4" -> "MEA")))
        .groupBy(col("region_code")).agg(count(lit(1)).as("n_nations"))
        .orderBy(col("region_code")),
      """SELECT CASE CAST(n_regionkey AS VARCHAR)
        |         WHEN '0' THEN 'AFR' WHEN '1' THEN 'AME' WHEN '2' THEN 'ASI'
        |         WHEN '3' THEN 'EUR' WHEN '4' THEN 'MEA'
        |         ELSE CAST(n_regionkey AS VARCHAR) END AS region_code,
        |  count(*) AS n_nations
        |FROM nation GROUP BY 1 ORDER BY region_code""".stripMargin),

    // q13: anti join (SURVEY P6 row-drop analog / NOT EXISTS)
    Query.fixed("q13_customers_no_open_orders", (s, dir) => {
      val open = t(s, dir, "orders").where(col("o_orderstatus") === "P")
      t(s, dir, "customer")
        .join(open, col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_mktsegment"))
        .orderBy(col("c_custkey"))
    },
      """SELECT c_custkey, c_mktsegment FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_orderstatus = 'P' AND o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin),

    // q14: semi join (EXISTS)
    Query.fixed("q14_suppliers_recent", (s, dir) => {
      val recent = t(s, dir, "lineitem").where(to_date(col("l_shipdate")) >= lit("1998-01-01"))
      t(s, dir, "supplier")
        .join(recent, col("s_suppkey") === col("l_suppkey"), "left_semi")
        .select(col("s_suppkey"), col("s_name"))
        .orderBy(col("s_suppkey"))
    },
      """SELECT s_suppkey, s_name FROM supplier
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |  WHERE CAST(l_shipdate AS DATE) >= DATE '1998-01-01' AND l_suppkey = s_suppkey)
        |ORDER BY s_suppkey""".stripMargin),

    // q15: event-time tumbling window aggregation — the batch shape of the
    // Structured Streaming pipeline (graft.streaming.EventPipeline)
    Query.fixed("q15_events_hourly", (s, dir) =>
      events(s, dir)
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("sum_value"))
        .select(col("w.start").as("hour_start"), col("event_type"), col("n_events"), col("sum_value"))
        .orderBy(col("hour_start"), col("event_type")),
      """SELECT time_bucket(INTERVAL '1 hour', ts) AS hour_start, event_type,
        |  count(*) AS n_events, round(sum(value), 2) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY hour_start, event_type""".stripMargin),

    // q16: JSON extraction from the semi-structured props column
    Query.fixed("q16_events_props", (s, dir) =>
      events(s, dir)
        .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
          round(avg(col("k")), 4).as("avg_k"))
        .orderBy(col("event_type")),
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
        |  round(avg(CAST(json_extract_string(props, '$.k') AS INT)), 4) AS avg_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    // q29: session windows via gap-islands (lag + running sum) — the
    // SQL-expressible twin of the stateful sessionizer
    // (graft.streaming.EventPipeline.sessionize)
    Query.fixed("q29_sessions", (s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"))
      events(s, dir)
        .withColumn("prev_ts", lag(col("ts"), 1).over(w))
        // gap compared at MICROSECOND precision on both engines: a
        // floor-to-second cast here vs the oracle's fractional epoch()
        // would disagree on sub-second boundary gaps (q33 learned the
        // same lesson at ms; timestamps are micros on the Spark side)
        .withColumn("new_session",
          when(col("prev_ts").isNull ||
            unix_micros(col("ts")) - unix_micros(col("prev_ts")) > 1800000000L, 1L)
            .otherwise(0L))
        .withColumn("session_id", sum(col("new_session")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("user_id"))
        .agg(max(col("session_id")).as("n_sessions"), count(lit(1)).as("n_events"))
        .orderBy(col("user_id"))
    },
      """WITH g AS (
        |  SELECT user_id, ts,
        |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |           OR epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts)) > 1800000000
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM events),
        |s AS (SELECT user_id,
        |  sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |  FROM g)
        |SELECT user_id, CAST(max(session_id) AS BIGINT) AS n_sessions, count(*) AS n_events
        |FROM s GROUP BY user_id ORDER BY user_id""".stripMargin),

    // q44: SLIDING event-time windows (1h window, 30m slide) — each event
    // lands in two overlapping windows; the oracle replays the window-start
    // arithmetic with two shifted time_buckets
    Query.fixed("q44_events_sliding", (s, dir) =>
      events(s, dir)
        .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("sum_value"))
        .select(col("w.start").as("w_start"), col("event_type"), col("n_events"), col("sum_value"))
        .orderBy(col("w_start"), col("event_type")),
      """WITH w AS (SELECT event_type, value,
        |  unnest([time_bucket(INTERVAL '30 minutes', ts),
        |          time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes']) AS w_start
        |  FROM events)
        |SELECT w_start, event_type, count(*) AS n_events, round(sum(value), 2) AS sum_value
        |FROM w GROUP BY 1, 2 ORDER BY w_start, event_type""".stripMargin),

    // q45: AS-OF JOIN — for every click, the most recent prior-or-equal
    // view value of the same user (graft.etl.AsOfJoin: tagged union + ONE
    // partitioned window, no range-join blowup; DuckDB's native ASOF JOIN
    // is the oracle)
    Query.fixed("q45_asof_click_view", (s, dir) => {
      // exact integer ms (unix_millis ~ DuckDB epoch_ms), not raw
      // timestamps: events.parquet is nanos, Spark truncates to micros
      val ev = events(s, dir)
      val clicks = ev.where(col("event_type") === "click")
        .select(col("user_id"), unix_millis(col("ts")).as("ts_ms"),
          round(col("value"), 4).as("click_value"))
      // right side unique per (user, ts): keep the max view value
      val views = ev.where(col("event_type") === "view")
        .groupBy(col("user_id"), unix_millis(col("ts")).as("ts_ms"))
        .agg(max(col("value")).as("v"))
        .select(col("user_id"), col("ts_ms"), round(col("v"), 4).as("view_value"))
      graft.etl.AsOfJoin.asofLatest(clicks, views, Seq("user_id"), "ts_ms", Seq("view_value"))
        .select(col("user_id"), col("ts_ms"), col("click_value"), col("view_value"))
        .orderBy(col("user_id"), col("ts_ms"), col("click_value"))
    },
      """WITH c AS (SELECT user_id, epoch_ms(ts) AS ts_ms, round(value, 4) AS click_value
        |  FROM events WHERE event_type = 'click'),
        |v AS (SELECT user_id, epoch_ms(ts) AS ts_ms, round(max(value), 4) AS view_value
        |  FROM events WHERE event_type = 'view' GROUP BY 1, 2)
        |SELECT c.user_id, c.ts_ms, c.click_value, v.view_value
        |FROM c ASOF LEFT JOIN v ON c.user_id = v.user_id AND c.ts_ms >= v.ts_ms
        |ORDER BY c.user_id, c.ts_ms, c.click_value""".stripMargin),

    // q46: salted skew join — lineitem x supplier on suppkey with the left
    // side salted 8 ways and the right replicated; the salt changes the
    // physical distribution ONLY, so the oracle is the plain SQL join
    Query.fixed("q46_skew_salted_join", (s, dir) =>
      graft.etl.SkewJoin.saltedEquiJoin(
        t(s, dir, "lineitem").select(col("l_suppkey").as("s_suppkey"), col("l_quantity")),
        t(s, dir, "supplier").select(col("s_suppkey"), col("s_name")),
        Seq("s_suppkey"), saltBuckets = 8)
        .groupBy(col("s_name"))
        .agg(count(lit(1)).as("n_items"), round(sum(col("l_quantity")), 2).as("total_qty"))
        .orderBy(col("s_name")),
      """SELECT s_name, count(*) AS n_items, round(sum(l_quantity), 2) AS total_qty
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY s_name ORDER BY s_name""".stripMargin),

    // q47: RANGE JOIN — events inside each user's first-hour interval,
    // bucketed so containment becomes an equi-join on (user, bucket); the
    // oracle is the plain SQL BETWEEN join
    Query.fixed("q47_range_join_first_hour", (s, dir) => {
      val ev = events(s, dir)
        .select(col("user_id"), unix_millis(col("ts")).as("ts_ms"), col("value"))
      val intervals = ev.groupBy(col("user_id"))
        .agg(min(col("ts_ms")).as("lo"))
        .withColumn("hi", col("lo") + lit(3600L * 1000))
      graft.etl.RangeJoin.pointInInterval(ev, intervals,
        Seq("user_id"), "ts_ms", "lo", "hi", bucketWidth = 3600L * 1000)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_first_hour"), round(sum(col("value")), 2).as("sum_value"))
        .orderBy(col("user_id"))
    },
      """WITH e AS (SELECT user_id, epoch_ms(ts) AS ts_ms, value FROM events),
        |iv AS (SELECT user_id, min(ts_ms) AS lo, min(ts_ms) + 3600000 AS hi
        |       FROM e GROUP BY user_id)
        |SELECT e.user_id, count(*) AS n_first_hour, round(sum(e.value), 2) AS sum_value
        |FROM e JOIN iv ON e.user_id = iv.user_id AND e.ts_ms BETWEEN iv.lo AND iv.hi
        |GROUP BY e.user_id ORDER BY e.user_id""".stripMargin),

    // q48: exact interpolated per-group percentiles (SURVEY A5) — computed
    // by graft.etl.GroupPercentiles (range-split order statistics, 3
    // bounded jobs) instead of Spark's `percentile` imperative aggregate,
    // whose per-group value->count buffer merges in a single reducer (the
    // round-2 scale flag). The interpolation reproduces DuckDB's
    // `quantile_cont` two-multiply form exactly.
    Query.fixed("q48_group_percentiles", (s, dir) => {
      import graft.etl.GroupPercentiles.PctSpec
      graft.etl.GroupPercentiles.exact(
        t(s, dir, "lineitem"),
        Seq("l_returnflag"),
        Seq(
          PctSpec("l_quantity", 0.25, "p25"),
          PctSpec("l_quantity", 0.5, "p50"),
          PctSpec("l_quantity", 0.75, "p75"),
          PctSpec("l_extendedprice", 0.9, "price_p90")))
        .select(col("l_returnflag"),
          round(col("p25"), 4).as("p25"),
          round(col("p50"), 4).as("p50"),
          round(col("p75"), 4).as("p75"),
          round(col("price_p90"), 4).as("price_p90"))
        .orderBy(col("l_returnflag"))
    },
      """SELECT l_returnflag,
        |  round(quantile_cont(l_quantity, 0.25), 4) AS p25,
        |  round(quantile_cont(l_quantity, 0.5), 4) AS p50,
        |  round(quantile_cont(l_quantity, 0.75), 4) AS p75,
        |  round(quantile_cont(l_extendedprice, 0.9), 4) AS price_p90
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),

    // q33: stateful sessionizer (flatMapGroupsWithState) run in batch —
    // closed sessions per user with a 30-min gap. In batch the final open
    // session per user never emits (streaming-consistent semantics), so the
    // oracle is q29's session SQL minus one session per user. unix_millis
    // (exact integer ms, floor) mirrors DuckDB's epoch_ms — a double-seconds
    // conversion would round differently near ms boundaries.
    Query.fixed("q33_sessionize_stateful", (s, dir) => {
      import s.implicits._
      val ev = events(s, dir)
        .select(col("user_id"), unix_millis(col("ts")).as("ts_ms"), col("value"))
        .as[(Long, Long, Double)]
      graft.streaming.EventPipeline.sessionize(ev, gapMs = 1800L * 1000)
        .groupByKey(_.userId)
        .count()
        .toDF("user_id", "n_closed_sessions")
        .orderBy(col("user_id"))
    },
      // q33 oracle: in batch the stateful sessionizer emits only gap-CLOSED
      // sessions — the final open session per user never emits — so closed
      // sessions = q29's session count minus one, and single-session users
      // produce no row. epoch_ms mirrors unix_millis (both floor to ms).
      """WITH g AS (
        |  SELECT user_id, ts,
        |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |           OR epoch_ms(ts) - epoch_ms(lag(ts) OVER (PARTITION BY user_id ORDER BY ts)) > 1800000
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM events),
        |s AS (SELECT user_id,
        |  sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |  FROM g)
        |SELECT user_id, CAST(max(session_id) - 1 AS BIGINT) AS n_closed_sessions
        |FROM s GROUP BY user_id HAVING max(session_id) > 1 ORDER BY user_id""".stripMargin))

  /** events.parquet carries TIMESTAMP(NANOS) which Spark only reads as Long
    * (`spark.sql.legacy.parquet.nanosAsLong`, set in Verify/Bench sessions);
    * normalize to a proper timestamp column either way.
    */
  private def events(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events")
    e.schema("ts").dataType match {
      // driver layouts seen across rounds: TIMESTAMP(NANOS) read as long
      // under nanosAsLong (ScaleUp keeps that layout), plain micros read
      // as TIMESTAMP_NTZ, and instant-semantics TIMESTAMP. All converge on
      // TIMESTAMP in the UTC session so unix_millis/epoch math is layout-
      // independent (NTZ cast reinterprets the wall clock as UTC — exactly
      // DuckDB's epoch_us reading of the same file).
      case org.apache.spark.sql.types.LongType =>
        e.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        e.withColumn("ts", col("ts").cast("timestamp"))
      case _ => e
    }
  }
}
