// Copyright (c) 2026 graft contributors
// SPDX-License-Identifier: Apache-2.0

package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables._

/** Relational operator surface (SURVEY.md §2.2–2.6) expressed as
  * deterministic, oracle-checkable queries over the driver testdata.
  *
  * Design notes for scale (the queries run unchanged on a cluster):
  *   - every aggregate is a hash aggregate with map-side partial agg
  *     (Catalyst default for `groupBy.agg`);
  *   - dimension tables (region/nation/part/supplier/customer at TPC-H
  *     proportions) are explicitly `broadcast()` so the fact-side scan
  *     joins without a shuffle of the big side;
  *   - all outputs are explicitly ordered and double aggregates rounded
  *     to 2 decimals so the DuckDB hash-compare is stable across engines;
  *   - window/sessionization keys are (user_id) — the natural shuffle
  *     key — with in-partition sorts, so state never exceeds one user's
  *     events per task.
  */
object Relational extends graft.Gates {

  private def ts(s: String) = lit(s).cast("timestamp")

  /** Pricing summary (TPC-H Q1 shape): scan → filter → partial+final
    * hash agg → sort. Reference surface: A1 groupBy/agg, P4 filter, O1
    * orderBy (SURVEY.md §2.4, §2.2, §2.5).
    */
  def q1PricingSummary(s: SparkSession, dir: String): DataFrame =
    lineitem(s, dir)
      .filter(col("l_shipdate") <= ts("1998-09-02"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum("l_quantity"), 2).as("sum_qty"),
        round(sum("l_extendedprice"), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("sum_disc_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))
          * (lit(1) + col("l_tax"))), 2).as("sum_charge"),
        round(avg("l_quantity"), 2).as("avg_qty"),
        round(avg("l_extendedprice"), 2).as("avg_price"),
        round(avg("l_discount"), 2).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  val q1Oracle: String =
    """SELECT l_returnflag, l_linestatus,
      | round(sum(l_quantity),2) AS sum_qty,
      | round(sum(l_extendedprice),2) AS sum_base_price,
      | round(sum(l_extendedprice*(1-l_discount)),2) AS sum_disc_price,
      | round(sum(l_extendedprice*(1-l_discount)*(1+l_tax)),2) AS sum_charge,
      | round(avg(l_quantity),2) AS avg_qty,
      | round(avg(l_extendedprice),2) AS avg_price,
      | round(avg(l_discount),2) AS avg_disc,
      | count(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** Shipping priority (TPC-H Q3 shape): 3-way fact join + topN.
    * customer is filtered then broadcast; orders⋈lineitem shuffles on
    * the join key only.  J1/A1/O2 surface.
    */
  def q3ShippingPriority(s: SparkSession, dir: String): DataFrame = {
    val c = customer(s, dir).filter(col("c_mktsegment") === "BUILDING")
    val o = orders(s, dir).filter(col("o_orderdate") < ts("1998-01-01"))
    val l = lineitem(s, dir).filter(col("l_shipdate") > ts("1998-01-01"))
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
        .as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  val q3Oracle: String =
    """SELECT l_orderkey, o_orderdate,
      | round(sum(l_extendedprice*(1-l_discount)),2) AS revenue
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |WHERE c_mktsegment = 'BUILDING'
      |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      |  AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
      |GROUP BY l_orderkey, o_orderdate
      |ORDER BY revenue DESC, l_orderkey
      |LIMIT 10""".stripMargin

  /** Order-priority checking (TPC-H Q4 shape): EXISTS as a left-semi
    * join (J3 anti/semi surface) — no row explosion, shuffle on the
    * orderkey only.
    */
  def q4OrderPriority(s: SparkSession, dir: String): DataFrame = {
    val o = orders(s, dir)
      .filter(col("o_orderdate") >= ts("1996-01-01") &&
        col("o_orderdate") < ts("1997-01-01"))
    o.join(lineitem(s, dir).select("l_orderkey").distinct(),
        col("o_orderkey") === col("l_orderkey"), "left_semi")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("order_count"))
      .orderBy("o_orderpriority")
  }

  val q4Oracle: String =
    """SELECT o_orderpriority, count(*) AS order_count
      |FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
      |  AND EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey)
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  /** Local-supplier volume (TPC-H Q5 shape): 5-way join; all dimension
    * sides broadcast, single shuffle for the final agg.
    */
  def q5NationRevenue(s: SparkSession, dir: String): DataFrame = {
    val l = lineitem(s, dir)
    val o = orders(s, dir).filter(col("o_orderdate") >= ts("1996-01-01") &&
      col("o_orderdate") < ts("1998-01-01"))
    val c = customer(s, dir)
    val sup = supplier(s, dir)
    val n = nation(s, dir)
    val r = region(s, dir).filter(col("r_name") === "EUROPE")
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey") &&
        col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupBy("n_name")
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
        .as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  val q5Oracle: String =
    """SELECT n_name,
      | round(sum(l_extendedprice*(1-l_discount)),2) AS revenue
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      |JOIN nation ON s_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |WHERE r_name = 'EUROPE'
      |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      |GROUP BY n_name
      |ORDER BY revenue DESC, n_name""".stripMargin

  /** Revenue-change forecast (TPC-H Q6 shape): pure filter+agg; the
    * whole predicate pushes into the parquet scan.
    */
  def q6Forecast(s: SparkSession, dir: String): DataFrame =
    lineitem(s, dir)
      .filter(col("l_shipdate") >= ts("1996-01-01") &&
        col("l_shipdate") < ts("1997-01-01") &&
        col("l_discount") >= 0.02 && col("l_discount") <= 0.06 &&
        col("l_quantity") < 24)
      .agg(round(sum(col("l_extendedprice") * col("l_discount")), 2)
        .as("revenue"),
        count(lit(1)).as("n_rows"))

  val q6Oracle: String =
    """SELECT round(sum(l_extendedprice*l_discount),2) AS revenue,
      | count(*) AS n_rows
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      |  AND l_discount BETWEEN 0.02 AND 0.06
      |  AND l_quantity < 24""".stripMargin

  /** Exact distinct cardinality by group (shuffle on (event_type,
    * user_id) via Spark's two-phase distinct-agg expansion).
    */
  def q7DistinctUsers(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("n_users"),
        count(lit(1)).as("n_events"))
      .orderBy("event_type")

  val q7Oracle: String =
    """SELECT event_type, count(DISTINCT user_id) AS n_users,
      | count(*) AS n_events
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** Top-N per group via row_number window (deterministic tiebreak on
    * the key). Partition key = c_mktsegment: 5 groups, so at cluster
    * scale this benefits from AQE skew handling; output is tiny.
    */
  def q8TopOrdersPerSegment(s: SparkSession, dir: String): DataFrame = {
    val o = orders(s, dir)
    val c = customer(s, dir)
    val joined = o.join(broadcast(c), col("o_custkey") === col("c_custkey"))
    val w = Window.partitionBy(col("c_mktsegment"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    joined
      .select(col("c_mktsegment"), col("o_orderkey"), col("o_totalprice"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 3)
      .orderBy("c_mktsegment", "rn")
  }

  val q8Oracle: String =
    """SELECT c_mktsegment, o_orderkey, o_totalprice, rn FROM (
      |  SELECT c_mktsegment, o_orderkey, o_totalprice,
      |    row_number() OVER (PARTITION BY c_mktsegment
      |      ORDER BY o_totalprice DESC, o_orderkey) AS rn
      |  FROM orders JOIN customer ON o_custkey = c_custkey) t
      |WHERE rn <= 3
      |ORDER BY c_mktsegment, rn""".stripMargin

  /** Per-user running total over event time (window agg with a
    * deterministic frame; ms-epoch used so both engines order
    * identically under ns→µs truncation).
    */
  def q9RunningTotal(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ms"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events(s, dir)
      .withColumn("ms", unix_millis(col("ts").cast("timestamp")))
      .withColumn("running_value", round(sum(col("value")).over(w), 2))
      .select("user_id", "event_id", "ms", "running_value")
      .orderBy("user_id", "ms", "event_id")
  }

  val q9Oracle: String =
    """SELECT user_id, event_id, epoch_ms(ts) AS ms,
      | round(sum(value) OVER (PARTITION BY user_id
      |   ORDER BY epoch_ms(ts), event_id
      |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),2)
      |   AS running_value
      |FROM events
      |ORDER BY user_id, ms, event_id""".stripMargin

  /** Gap-based sessionization (30-min inactivity): lag → new-session
    * flag → cumulative session id → per-session agg. The batch
    * equivalent of `session_window`, expressed with windows so the
    * DuckDB oracle can replicate it exactly. Shuffles once on user_id.
    */
  def q10Sessions(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ms"), col("event_id"))
    val e = events(s, dir)
      .withColumn("ms", unix_millis(col("ts").cast("timestamp")))
      .withColumn("prev_ms", lag(col("ms"), 1).over(byUser))
      .withColumn("new_sess",
        when(col("prev_ms").isNull ||
          col("ms") - col("prev_ms") > 30L * 60 * 1000, 1L).otherwise(0L))
      .withColumn("session_seq", sum(col("new_sess"))
        .over(byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    e.groupBy(col("user_id"), col("session_seq"))
      .agg(count(lit(1)).as("n_events"),
        min(col("ms")).as("start_ms"),
        max(col("ms")).as("end_ms"),
        round(sum(col("value")), 2).cast("decimal(18,2)")
          .cast("double").as("session_value"))
      .orderBy("user_id", "session_seq")
  }

  val q10Oracle: String =
    """WITH e AS (
      |  SELECT user_id, event_id, value, epoch_ms(ts) AS ms,
      |    lag(epoch_ms(ts)) OVER (PARTITION BY user_id
      |      ORDER BY epoch_ms(ts), event_id) AS prev_ms
      |  FROM events),
      |flagged AS (
      |  SELECT *, CASE WHEN prev_ms IS NULL OR ms - prev_ms > 1800000
      |    THEN 1 ELSE 0 END AS new_sess FROM e),
      |sess AS (
      |  SELECT *, sum(new_sess) OVER (PARTITION BY user_id
      |    ORDER BY ms, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
      |  FROM flagged)
      |SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
      | count(*) AS n_events,
      | min(ms) AS start_ms, max(ms) AS end_ms,
      | CAST(CAST(round(sum(value),2) AS DECIMAL(18,2)) AS DOUBLE)
      |   AS session_value
      |FROM sess
      |GROUP BY user_id, session_seq
      |ORDER BY user_id, session_seq""".stripMargin

  /** The same 30-min sessionization through Spark's NATIVE
    * `session_window` (the third implementation of these semantics,
    * after the window-based batch q10 and the stateful-streaming q51 —
    * all three share one oracle). The built-in is the one to prefer at
    * scale: gap merging happens inside the aggregation operator
    * (no lag/running-sum window pass), it is streaming-capable, and
    * the shuffle is still a single exchange on user_id.
    *
    * Boundary note: `session_window` starts a new session at gap ≥ the
    * gap duration where q10's lag-formulation uses gap >; equivalent
    * unless an exact-boundary gap exists (none in the testdata at any
    * SF — verified, and any such corpus would flag in the gate).
    */
  def q64SessionWindow(s: SparkSession, dir: String): DataFrame = {
    val sess = events(s, dir)
      .withColumn("ms", unix_millis(col("ts").cast("timestamp")))
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"),
        min(col("ms")).as("start_ms"),
        max(col("ms")).as("end_ms"),
        round(sum(col("value")), 2).cast("decimal(18,2)")
          .cast("double").as("session_value"))
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("start_ms"))
    sess.withColumn("session_seq", row_number().over(byUser).cast("long"))
      .select("user_id", "session_seq", "n_events", "start_ms", "end_ms",
        "session_value")
      .orderBy("user_id", "session_seq")
  }

  /** FULL OUTER join (completing the join-type surface alongside the
    * inner/semi/anti/broadcast coverage): per-nation customer and
    * supplier counts, keeping nations that have only one of the two.
    * Both sides pre-aggregate BEFORE the join — the outer join then
    * moves one row per nation instead of one per customer/supplier,
    * the shape that survives a 100× fact-side scale-up.
    */
  def q70NationCoverage(s: SparkSession, dir: String): DataFrame = {
    val c = customer(s, dir).groupBy("c_nationkey")
      .agg(count(lit(1)).as("n_customers"))
    val sup = supplier(s, dir).groupBy("s_nationkey")
      .agg(count(lit(1)).as("n_suppliers"))
    c.join(sup, col("c_nationkey") === col("s_nationkey"), "full_outer")
      .select(
        coalesce(col("c_nationkey"), col("s_nationkey")).as("nationkey"),
        coalesce(col("n_customers"), lit(0L)).as("n_customers"),
        coalesce(col("n_suppliers"), lit(0L)).as("n_suppliers"))
      .orderBy("nationkey")
  }

  val q70Oracle: String =
    """WITH c AS (SELECT c_nationkey, count(*) AS n_customers
      |           FROM customer GROUP BY c_nationkey),
      |s AS (SELECT s_nationkey, count(*) AS n_suppliers
      |      FROM supplier GROUP BY s_nationkey)
      |SELECT coalesce(c_nationkey, s_nationkey) AS nationkey,
      | coalesce(n_customers, 0) AS n_customers,
      | coalesce(n_suppliers, 0) AS n_suppliers
      |FROM c FULL OUTER JOIN s ON c_nationkey = s_nationkey
      |ORDER BY nationkey""".stripMargin

  /** NOT EXISTS as a left-anti join (J3) — customers with no orders. */
  def q11CustomersWithoutOrders(s: SparkSession, dir: String): DataFrame =
    customer(s, dir)
      .join(orders(s, dir).select("o_custkey"),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey", "c_name", "c_mktsegment")
      .orderBy("c_custkey")

  val q11Oracle: String =
    """SELECT c_custkey, c_name, c_mktsegment
      |FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      |ORDER BY c_custkey""".stripMargin

  /** ROLLUP grouping-sets aggregate; rolled-up keys surfaced as 'ALL'
    * so null-ordering differences between engines can't bite.
    */
  def q12Rollup(s: SparkSession, dir: String): DataFrame =
    lineitem(s, dir)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), round(sum("l_quantity"), 2).as("qty"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
        col("n"), col("qty"))
      .orderBy("returnflag", "linestatus")

  val q12Oracle: String =
    """SELECT coalesce(l_returnflag,'ALL') AS returnflag,
      | coalesce(l_linestatus,'ALL') AS linestatus,
      | count(*) AS n, round(sum(l_quantity),2) AS qty
      |FROM lineitem
      |GROUP BY ROLLUP(l_returnflag, l_linestatus)
      |ORDER BY returnflag, linestatus""".stripMargin

  /** Broadcast-join fact-to-dim rollup by brand (J1 + A1). */
  def q13BrandRevenue(s: SparkSession, dir: String): DataFrame =
    lineitem(s, dir)
      .join(broadcast(part(s, dir)), col("l_partkey") === col("p_partkey"))
      .groupBy("p_brand")
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
        .as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy("p_brand")

  val q13Oracle: String =
    """SELECT p_brand,
      | round(sum(l_extendedprice*(1-l_discount)),2) AS revenue,
      | count(*) AS n_items
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |GROUP BY p_brand
      |ORDER BY p_brand""".stripMargin

  /** Two-level aggregation: per-order lineitem stats re-aggregated by
    * order status (tests partial-agg reuse across levels).
    */
  def q14OrderStats(s: SparkSession, dir: String): DataFrame = {
    val perOrder = lineitem(s, dir)
      .groupBy("l_orderkey")
      .agg(count(lit(1)).as("n_items"),
        sum(col("l_quantity")).as("qty"))
    orders(s, dir)
      .join(perOrder, col("o_orderkey") === col("l_orderkey"))
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_orders"),
        round(avg(col("n_items")), 2).as("avg_items"),
        round(avg(col("qty")), 2).as("avg_qty"))
      .orderBy("o_orderstatus")
  }

  val q14Oracle: String =
    """WITH per_order AS (
      |  SELECT l_orderkey, count(*) AS n_items, sum(l_quantity) AS qty
      |  FROM lineitem GROUP BY l_orderkey)
      |SELECT o_orderstatus, count(*) AS n_orders,
      | round(avg(n_items),2) AS avg_items, round(avg(qty),2) AS avg_qty
      |FROM orders JOIN per_order ON o_orderkey = l_orderkey
      |GROUP BY o_orderstatus
      |ORDER BY o_orderstatus""".stripMargin

  /** Timestamp min/max passthrough — exercises timestamp parity between
    * engines end-to-end (parquet ms → µs → result parquet).
    */
  def q15DateBounds(s: SparkSession, dir: String): DataFrame =
    lineitem(s, dir).agg(
      min(col("l_shipdate")).as("min_ship"),
      max(col("l_shipdate")).as("max_ship"))

  val q15Oracle: String =
    """SELECT CAST(min(l_shipdate) AS TIMESTAMP) AS min_ship,
      | CAST(max(l_shipdate) AS TIMESTAMP) AS max_ship
      |FROM lineitem""".stripMargin

  /** INTERSECT (distinct set-op, O4-family): customers having both an
    * open and a fulfilled order.
    */
  def q16SetOps(s: SparkSession, dir: String): DataFrame = {
    val o = orders(s, dir)
    val open = o.filter(col("o_orderstatus") === "O").select("o_custkey")
    val done = o.filter(col("o_orderstatus") === "F").select("o_custkey")
    open.intersect(done).orderBy("o_custkey")
  }

  val q16Oracle: String =
    """SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
      |INTERSECT
      |SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
      |ORDER BY o_custkey""".stripMargin

  /** Semi-structured extraction: pull `k` out of the JSON props column
    * and aggregate (F-family + events).
    */
  def q17JsonProps(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .groupBy("event_type")
      .agg(round(avg(col("k")), 2).as("avg_k"),
        max(col("k")).as("max_k"),
        count(lit(1)).as("n"))
      .orderBy("event_type")

  val q17Oracle: String =
    """SELECT event_type,
      | round(avg(CAST(json_extract_string(props,'$.k') AS BIGINT)),2) AS avg_k,
      | max(CAST(json_extract_string(props,'$.k') AS BIGINT)) AS max_k,
      | count(*) AS n
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** Semi-structured extraction through Spark 4's native VARIANT type
    * (vs q17's string-path `get_json_object`): `parse_json` builds the
    * binary variant ONCE per row, then typed `variant_get` extractions
    * read its encoded form — on wide messy metadata (the
    * training-data-pipeline norm) N extractions parse the JSON text
    * once, not N times, and the binary encoding column-shreds in
    * parquet. The aggregate buckets k by decade so the gate exercises
    * the extracted value as a join/group key, not just a projection.
    */
  def q104VariantProps(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .withColumn("v", parse_json(col("props")))
      .withColumn("k", variant_get(col("v"), "$.k", "bigint"))
      .groupBy(floor(col("k") / 10L).as("k_decade"))
      .agg(count(lit(1)).as("n"), sum("k").as("sum_k"))
      .orderBy("k_decade")

  val q104Oracle: String =
    """SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) // 10
      |    AS k_decade,
      | count(*) AS n,
      | CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT))
      |    AS BIGINT) AS sum_k
      |FROM events
      |GROUP BY k_decade
      |ORDER BY k_decade""".stripMargin

  /** Time-bucketed rollup: date_trunc to the hour (F4 surface on the
    * events table; output cast to µs-precision timestamp both sides).
    */
  def q18HourlyEvents(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .withColumn("hour", date_trunc("hour", col("ts")).cast("timestamp_ntz"))
      .groupBy("hour", "event_type")
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total_value"))
      .orderBy("hour", "event_type")

  val q18Oracle: String =
    """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour, event_type,
      | count(*) AS n, round(sum(value),2) AS total_value
      |FROM events
      |GROUP BY 1, 2
      |ORDER BY hour, event_type""".stripMargin

  /** Pivot (long→wide reshape): daily event counts spread into one
    * column per event type. The value list is pinned explicitly —
    * `pivot(col)` without values runs an extra distinct job AND makes
    * the output schema data-dependent, both wrong at scale. With pinned
    * values Spark plans a two-phase aggregate: a partial count on
    * (day, type) below the first exchange reduces the raw scan
    * map-side, then the pivotfirst exchange moves only the tiny
    * pre-aggregated grid (PlanSpec asserts the shape). Semantically
    * equal to the oracle's CASE-sum form.
    */
  val EventTypes = Seq("click", "error", "purchase", "signup", "view")

  def q61PivotDaily(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
      .groupBy("day")
      .pivot("event_type", EventTypes)
      .agg(count(lit(1)))
      // absent (day, type) cells are null in a pivot; 0 is the honest
      // count and keeps both engines' output identical
      .select(col("day") +: EventTypes.map(t =>
        coalesce(col(t), lit(0L)).as(s"n_$t")): _*)
      .orderBy("day")

  val q61Oracle: String = {
    val sums = EventTypes.map(t =>
      s"CAST(sum(CASE WHEN event_type = '$t' THEN 1 ELSE 0 END) AS BIGINT)" +
        s" AS n_$t")
      .mkString(",\n ")
    s"""SELECT strftime(ts, '%Y-%m-%d') AS day,
      | $sums
      |FROM events
      |GROUP BY 1
      |ORDER BY day""".stripMargin
  }

  /** CUBE grouping-sets (all four combinations), 'ALL'-coalesced like
    * q12's rollup.
    */
  def q52Cube(s: SparkSession, dir: String): DataFrame =
    orders(s, dir)
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))
      .select(
        coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        col("n"), col("total"))
      .orderBy("status", "priority")

  val q52Oracle: String =
    """SELECT coalesce(o_orderstatus,'ALL') AS status,
      | coalesce(o_orderpriority,'ALL') AS priority,
      | count(*) AS n, round(sum(o_totalprice),2) AS total
      |FROM orders
      |GROUP BY CUBE(o_orderstatus, o_orderpriority)
      |ORDER BY status, priority""".stripMargin

  /** EXCEPT (distinct set difference): customers with open orders but
    * no fulfilled ones.
    */
  def q53Except(s: SparkSession, dir: String): DataFrame = {
    val o = orders(s, dir)
    val open = o.filter(col("o_orderstatus") === "O").select("o_custkey")
    val done = o.filter(col("o_orderstatus") === "F").select("o_custkey")
    open.except(done).orderBy("o_custkey")
  }

  val q53Oracle: String =
    """SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
      |EXCEPT
      |SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
      |ORDER BY o_custkey""".stripMargin

  /** q8's per-segment top-3 recomputed through the custom
    * TopKPerGroup physical operator (`plans/TopKPerGroup.scala`) and
    * checked against q8's oracle — the window row_number plan and the
    * bounded-heap operator must agree cross-engine. The tiny
    * row_number window after the operator runs over ≤ 3·segments
    * rows, only to reproduce the oracle's `rn` column.
    */
  def q86TopKOperator(s: SparkSession, dir: String): DataFrame = {
    val joined = orders(s, dir)
      .join(broadcast(customer(s, dir)),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment"), col("o_orderkey"), col("o_totalprice"))
    val top = graft.plans.TopKPerGroup.topK(joined,
      Seq("c_mktsegment"),
      Seq(("o_totalprice", false), ("o_orderkey", true)), 3)
    val w = Window.partitionBy(col("c_mktsegment"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    top.withColumn("rn", row_number().over(w).cast("long"))
      .orderBy("c_mktsegment", "rn")
  }

  /** Semi join behind an explicit Bloom prune
    * (`functions/BloomExpressions.scala`): orders filter through a
    * bloom of the BUILDING customers' keys before the semi join runs,
    * so the join input carries only probable matches. The oracle is
    * the PLAIN semi join — the bloom has no false negatives and the
    * real join still runs, so pruning must be observably invisible.
    * This is the manual runtime-filter lever for the 100 TB case
    * where the build side's rows exceed broadcast size but its key
    * bloom is a few MB.
    */
  def q87BloomPrunedJoin(s: SparkSession, dir: String): DataFrame = {
    val c = customer(s, dir)
      .filter(col("c_mktsegment") === "BUILDING")
      .select("c_custkey")
    val o = orders(s, dir)
    val pruned = graft.functions.BloomExpressions.bloomPrune(
      o, c, "o_custkey", "c_custkey", expectedItems = 100000L)
    pruned.join(c, pruned("o_custkey") === c("c_custkey"), "left_semi")
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"),
        round(sum("o_totalprice"), 2).cast("decimal(18,2)")
          .cast("double").as("total"))
      .orderBy("o_orderstatus")
  }

  val q87Oracle: String =
    """SELECT o_orderstatus, count(*) AS n,
      | CAST(CAST(round(sum(o_totalprice), 2) AS DECIMAL(18,2)) AS DOUBLE)
      |   AS total
      |FROM orders
      |WHERE EXISTS (SELECT 1 FROM customer
      |  WHERE c_custkey = o_custkey AND c_mktsegment = 'BUILDING')
      |GROUP BY o_orderstatus
      |ORDER BY o_orderstatus""".stripMargin

  /** GROUPING SETS with an asymmetric set list — the general form that
    * rollup (q12) and cube (q52) are sugar for: detail by
    * (status, priority), a priority-only margin, and the grand total,
    * in ONE pass. Catalyst expands the sets into a single Expand +
    * hash-aggregate, so the fact table is scanned once however many
    * margins are requested — at 100 TB that is the difference between
    * one shuffle and one per report dimension.
    */
  def q79GroupingSets(s: SparkSession, dir: String): DataFrame =
    orders(s, dir)
      .groupingSets(
        Seq(Seq(col("o_orderstatus"), col("o_orderpriority")),
          Seq(col("o_orderpriority")), Seq.empty[org.apache.spark.sql.Column]),
        col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        round(sum("o_totalprice"), 2).cast("decimal(18,2)")
          .cast("double").as("total"))
      .select(
        coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        col("n"), col("total"))
      .orderBy("status", "priority")

  val q79Oracle: String =
    """SELECT coalesce(o_orderstatus,'ALL') AS status,
      | coalesce(o_orderpriority,'ALL') AS priority,
      | count(*) AS n,
      | CAST(CAST(round(sum(o_totalprice),2) AS DECIMAL(18,2)) AS DOUBLE)
      |   AS total
      |FROM orders
      |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
      |  (o_orderpriority), ())
      |ORDER BY status, priority""".stripMargin

  /** Cross-nation trade flows (TPC-H Q7's shape): revenue between every
    * (supplier nation, customer nation) pair. Two fact-sized joins
    * (lineitem⋈orders on orderkey, then customer/supplier keys) that
    * shuffle — correct at 100 TB, where neither side broadcasts — and
    * two 25-row nation lookups that must NOT shuffle: both resolve as
    * broadcast joins of the same tiny table under two aliases.
    * Revenue quantizes per item to DECIMAL(18,4) before the sum so the
    * cross-engine total is order-independent (the q10/q106 rule).
    */
  def q127TradeFlows(s: SparkSession, dir: String): DataFrame = {
    val itemRev = round(col("l_extendedprice") * (lit(1) - col("l_discount")),
      4).cast("decimal(18,4)")
    val sn = nation(s, dir)
      .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
    val cn = nation(s, dir)
      .select(col("n_nationkey").as("c_nk"), col("n_name").as("cust_nation"))
    lineitem(s, dir)
      .join(orders(s, dir), col("l_orderkey") === col("o_orderkey"))
      .join(customer(s, dir), col("o_custkey") === col("c_custkey"))
      .join(supplier(s, dir), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(sn), col("s_nationkey") === col("s_nk"))
      .join(broadcast(cn), col("c_nationkey") === col("c_nk"))
      .filter(col("s_nk") =!= col("c_nk"))
      .groupBy("supp_nation", "cust_nation")
      .agg(
        round(sum(itemRev), 2).cast("decimal(18,2)").cast("double")
          .as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy("supp_nation", "cust_nation")
  }

  val q127Oracle: String =
    """SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
      | CAST(CAST(round(sum(CAST(round(l_extendedprice * (1 - l_discount),
      |   4) AS DECIMAL(18,4))), 2) AS DECIMAL(18,2)) AS DOUBLE)
      |   AS revenue,
      | count(*) AS n_items
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation sn ON s_nationkey = sn.n_nationkey
      |JOIN nation cn ON c_nationkey = cn.n_nationkey
      |WHERE sn.n_nationkey <> cn.n_nationkey
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Weighted PageRank (damping 0.85, 3 synchronous iterations) over
    * the nation trade graph — edges are the q127 flows weighted by
    * item count. Iterative distributed linear algebra in fixed-point
    * INTEGER arithmetic so both engines agree bit-for-bit at any
    * scale:
    *  - edge weights normalize to per-source integer shares out of
    *    10^6 (bounded regardless of corpus size — no overflow at
    *    100 TB, where raw rank×weight products would blow past int64);
    *  - ranks live at scale 10^12; a step is
    *    teleport + Σ floor(floor(r·17/20) · share / 10^6) — integer
    *    div is deterministic and summation order-free, unlike float.
    * The rank vector (one row per node) broadcasts to the edge join
    * each iteration; only the edge aggregation shuffles. Dangling
    * mass evaporates (documented PageRank variant; oracle mirrors).
    */
  def q146PagerankTrade(s: SparkSession, dir: String): DataFrame = {
    val edgesRaw = lineitem(s, dir)
      .join(orders(s, dir), col("l_orderkey") === col("o_orderkey"))
      .join(customer(s, dir), col("o_custkey") === col("c_custkey"))
      .join(supplier(s, dir), col("l_suppkey") === col("s_suppkey"))
      .select(col("s_nationkey").as("src"), col("c_nationkey").as("dst"))
      .filter(col("src") =!= col("dst"))
      .groupBy("src", "dst").agg(count(lit(1)).as("w"))
    val edges = edgesRaw
      .withColumn("share", expr("(w * 1000000L) div sum(w) OVER " +
        "(PARTITION BY src)"))
      .select("src", "dst", "share")
      .persist()
    val nodes = nation(s, dir).select(col("n_nationkey").as("node"),
      col("n_name"))
    val nNodes = 25L // TPC-H nation is fixed-cardinality
    val scale = 1000000000000L
    val teleport = scale * 15L / (100L * nNodes)
    var ranks = nodes.select(col("node"), lit(scale / nNodes).as("r"))
    for (_ <- 1 to 3) {
      val contrib = edges
        .join(broadcast(ranks), col("src") === col("node"))
        .select(col("dst"),
          expr("(r * 17L div 20L) * share div 1000000L").as("c"))
        .groupBy("dst").agg(sum("c").as("inflow"))
      ranks = nodes
        .join(contrib, col("node") === col("dst"), "left")
        .select(col("node"),
          (lit(teleport) + coalesce(col("inflow"), lit(0L))).as("r"))
    }
    val out = ranks.join(broadcast(nodes), "node")
      .select(col("n_name").as("nation"), col("r").as("pr_scaled"))
      .orderBy(col("pr_scaled").desc, col("nation"))
    edges.unpersist()
    out
  }

  /** Personalized PageRank (q267) — q146's loop with the teleport
    * mass CONCENTRATED on one seed node (nation 0) instead of spread
    * uniformly: the random surfer restarts at the seed, so ranks
    * become "importance relative to the seed's neighborhood" — the
    * seeded-similarity primitive under recommendation and
    * related-entity queries, where global PageRank answers a
    * different question. Same fixed-point integer discipline as q146
    * (shares out of 10^6, ranks at 10^12, floor division — bit-exact
    * in any engine, no overflow at any corpus size), same shape: the
    * node-sized rank vector broadcasts, only the edge aggregation
    * shuffles, 3 synchronous iterations unrolled in the oracle.
    * Dangling mass evaporates exactly as in q146.
    */
  def q267PersonalizedPagerank(s: SparkSession, dir: String): DataFrame = {
    val seed = 0L
    val edgesRaw = lineitem(s, dir)
      .join(orders(s, dir), col("l_orderkey") === col("o_orderkey"))
      .join(customer(s, dir), col("o_custkey") === col("c_custkey"))
      .join(supplier(s, dir), col("l_suppkey") === col("s_suppkey"))
      .select(col("s_nationkey").as("src"), col("c_nationkey").as("dst"))
      .filter(col("src") =!= col("dst"))
      .groupBy("src", "dst").agg(count(lit(1)).as("w"))
    val edges = edgesRaw
      .withColumn("share", expr("(w * 1000000L) div sum(w) OVER " +
        "(PARTITION BY src)"))
      .select("src", "dst", "share")
      .persist()
    val nodes = nation(s, dir).select(col("n_nationkey").as("node"),
      col("n_name"))
    val scale = 1000000000000L
    val restart = scale * 15L / 100L // ALL teleport mass to the seed
    // start AT the seed (the standard PPR initialization)
    var ranks = nodes.select(col("node"),
      when(col("node") === seed, lit(scale)).otherwise(lit(0L)).as("r"))
    for (_ <- 1 to 3) {
      val contrib = edges
        .join(broadcast(ranks), col("src") === col("node"))
        .select(col("dst"),
          expr("(r * 17L div 20L) * share div 1000000L").as("c"))
        .groupBy("dst").agg(sum("c").as("inflow"))
      ranks = nodes
        .join(contrib, col("node") === col("dst"), "left")
        .select(col("node"),
          (when(col("node") === seed, lit(restart)).otherwise(lit(0L)) +
            coalesce(col("inflow"), lit(0L))).as("r"))
    }
    val out = ranks.join(broadcast(nodes), "node")
      .select(col("n_name").as("nation"), col("r").as("ppr_scaled"))
      .filter(col("ppr_scaled") > 0L)
      .orderBy(col("ppr_scaled").desc, col("nation"))
    edges.unpersist()
    out
  }

  val q267Oracle: String =
    """WITH ew AS MATERIALIZED (
      |  SELECT s_nationkey AS src, c_nationkey AS dst, count(*) AS w
      |  FROM lineitem
      |  JOIN orders ON l_orderkey = o_orderkey
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN supplier ON l_suppkey = s_suppkey
      |  WHERE s_nationkey <> c_nationkey
      |  GROUP BY 1, 2),
      |edges AS MATERIALIZED (
      |  SELECT src, dst,
      |    (w * 1000000) // sum(w) OVER (PARTITION BY src) AS share
      |  FROM ew),
      |r0 AS MATERIALIZED (SELECT n_nationkey AS node,
      |  CASE WHEN n_nationkey = 0 THEN 1000000000000 ELSE 0 END AS r
      | FROM nation),
      |i1 AS MATERIALIZED (SELECT n.n_nationkey AS node,
      |  CAST(CASE WHEN n.n_nationkey = 0 THEN 150000000000 ELSE 0 END
      |    + coalesce(sum((r0.r * 17 // 20) * e.share // 1000000), 0)
      |    AS BIGINT) AS r
      | FROM nation n
      | LEFT JOIN edges e ON e.dst = n.n_nationkey
      | LEFT JOIN r0 ON r0.node = e.src
      | GROUP BY 1),
      |i2 AS MATERIALIZED (SELECT n.n_nationkey AS node,
      |  CAST(CASE WHEN n.n_nationkey = 0 THEN 150000000000 ELSE 0 END
      |    + coalesce(sum((i1.r * 17 // 20) * e.share // 1000000), 0)
      |    AS BIGINT) AS r
      | FROM nation n
      | LEFT JOIN edges e ON e.dst = n.n_nationkey
      | LEFT JOIN i1 ON i1.node = e.src
      | GROUP BY 1),
      |i3 AS MATERIALIZED (SELECT n.n_nationkey AS node,
      |  CAST(CASE WHEN n.n_nationkey = 0 THEN 150000000000 ELSE 0 END
      |    + coalesce(sum((i2.r * 17 // 20) * e.share // 1000000), 0)
      |    AS BIGINT) AS r
      | FROM nation n
      | LEFT JOIN edges e ON e.dst = n.n_nationkey
      | LEFT JOIN i2 ON i2.node = e.src
      | GROUP BY 1)
      |SELECT nn.n_name AS nation, CAST(i3.r AS BIGINT) AS ppr_scaled
      |FROM i3 JOIN nation nn ON nn.n_nationkey = i3.node
      |WHERE i3.r > 0
      |ORDER BY ppr_scaled DESC, nation""".stripMargin

  /** Harmonic centrality at radius 4 (q269) over the directed nation
    * trade graph — the closeness-family centrality that stays defined
    * on DISCONNECTED graphs (unreachable nodes contribute 0 instead
    * of poisoning the mean): C_H(v) = Σ_{u≠v, d(v,u)≤4} 1/d(v,u),
    * truncated at radius 4 (the standard bounded-radius practice; the
    * trade graph's diameter is ≤ 3 at every SF so the cap is not
    * binding). Complements q146/q267 (flow-based) and q207 (single-
    * source BFS) with an all-sources distance readout.
    *
    * Everything after the one corpus-scale edge aggregate runs on the
    * NODE-BOUNDED frame (≤ 25² distance rows): 3 synchronous
    * frontier-relaxation rounds of join + min. The harmonic sum is
    * EXACT INTEGER arithmetic in twelfths — 12/d for d ∈ 1..4 —
    * so no float enters the gate at all.
    */
  def q269HarmonicCentrality(s: SparkSession, dir: String): DataFrame = {
    val edges = lineitem(s, dir)
      .join(orders(s, dir), col("l_orderkey") === col("o_orderkey"))
      .join(customer(s, dir), col("o_custkey") === col("c_custkey"))
      .join(supplier(s, dir), col("l_suppkey") === col("s_suppkey"))
      .select(col("s_nationkey").as("src"), col("c_nationkey").as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()
      .localCheckpoint() // node-bounded: ≤ 25×24 rows
    var dist = edges.select(col("src"), col("dst").as("node"),
      lit(1).as("d"))
    for (h <- 2 to 4) {
      val frontier = dist.filter(col("d") === h - 1)
        .select(col("src"), col("node").as("mid"))
        .join(edges.select(col("src").as("mid"), col("dst").as("node")),
          "mid")
        .filter(col("src") =!= col("node"))
        .select(col("src"), col("node"), lit(h).as("d"))
      dist = dist.unionByName(frontier)
        .groupBy("src", "node").agg(min("d").as("d"))
    }
    val nodes = nation(s, dir).select(col("n_nationkey").as("src"),
      col("n_name"))
    dist.groupBy("src")
      .agg(count(lit(1)).as("n_reached"),
        sum(expr("12 div d")).as("harmonic12"))
      .join(broadcast(nodes), "src")
      .select(col("n_name").as("nation"), col("n_reached"),
        col("harmonic12"))
      .orderBy(col("harmonic12").desc, col("nation"))
  }

  val q269Oracle: String =
    """WITH edges AS MATERIALIZED (
      |  SELECT DISTINCT s_nationkey AS src, c_nationkey AS dst
      |  FROM lineitem
      |  JOIN orders ON l_orderkey = o_orderkey
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN supplier ON l_suppkey = s_suppkey
      |  WHERE s_nationkey <> c_nationkey),
      |d1 AS (SELECT src, dst AS node, 1 AS d FROM edges),
      |f2 AS (SELECT p.src, e.dst AS node, 2 AS d
      |  FROM d1 p JOIN edges e ON p.node = e.src
      |  WHERE p.src <> e.dst),
      |m2 AS (SELECT src, node, min(d) AS d FROM (
      |  SELECT * FROM d1 UNION ALL SELECT * FROM f2) t
      | GROUP BY 1, 2),
      |f3 AS (SELECT p.src, e.dst AS node, 3 AS d
      |  FROM m2 p JOIN edges e ON p.node = e.src
      |  WHERE p.d = 2 AND p.src <> e.dst),
      |m3 AS (SELECT src, node, min(d) AS d FROM (
      |  SELECT * FROM m2 UNION ALL SELECT * FROM f3) t
      | GROUP BY 1, 2),
      |f4 AS (SELECT p.src, e.dst AS node, 4 AS d
      |  FROM m3 p JOIN edges e ON p.node = e.src
      |  WHERE p.d = 3 AND p.src <> e.dst),
      |m4 AS (SELECT src, node, min(d) AS d FROM (
      |  SELECT * FROM m3 UNION ALL SELECT * FROM f4) t
      | GROUP BY 1, 2)
      |SELECT n.n_name AS nation,
      |  CAST(count(*) AS BIGINT) AS n_reached,
      |  CAST(sum(12 // d) AS BIGINT) AS harmonic12
      |FROM m4 JOIN nation n ON n.n_nationkey = m4.src
      |GROUP BY n.n_name
      |ORDER BY harmonic12 DESC, nation""".stripMargin

  val q146Oracle: String =
    """WITH ew AS MATERIALIZED (
      |  SELECT s_nationkey AS src, c_nationkey AS dst, count(*) AS w
      |  FROM lineitem
      |  JOIN orders ON l_orderkey = o_orderkey
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN supplier ON l_suppkey = s_suppkey
      |  WHERE s_nationkey <> c_nationkey
      |  GROUP BY 1, 2),
      |edges AS MATERIALIZED (
      |  SELECT src, dst,
      |    (w * 1000000) // sum(w) OVER (PARTITION BY src) AS share
      |  FROM ew),
      |r0 AS MATERIALIZED (SELECT n_nationkey AS node, 1000000000000 // 25 AS r
      |       FROM nation),
      |i1 AS MATERIALIZED (SELECT n.n_nationkey AS node,
      |  CAST(6000000000 + coalesce(
      |    sum((r0.r * 17 // 20) * e.share // 1000000), 0) AS BIGINT) AS r
      | FROM nation n
      | LEFT JOIN edges e ON e.dst = n.n_nationkey
      | LEFT JOIN r0 ON r0.node = e.src
      | GROUP BY 1),
      |i2 AS MATERIALIZED (SELECT n.n_nationkey AS node,
      |  CAST(6000000000 + coalesce(
      |    sum((i1.r * 17 // 20) * e.share // 1000000), 0) AS BIGINT) AS r
      | FROM nation n
      | LEFT JOIN edges e ON e.dst = n.n_nationkey
      | LEFT JOIN i1 ON i1.node = e.src
      | GROUP BY 1),
      |i3 AS MATERIALIZED (SELECT n.n_nationkey AS node,
      |  CAST(6000000000 + coalesce(
      |    sum((i2.r * 17 // 20) * e.share // 1000000), 0) AS BIGINT) AS r
      | FROM nation n
      | LEFT JOIN edges e ON e.dst = n.n_nationkey
      | LEFT JOIN i2 ON i2.node = e.src
      | GROUP BY 1)
      |SELECT nn.n_name AS nation, CAST(i3.r AS BIGINT) AS pr_scaled
      |FROM i3 JOIN nation nn ON nn.n_nationkey = i3.node
      |ORDER BY pr_scaled DESC, nation""".stripMargin

  /** 2-D skyline (Pareto front): parts not dominated on
    * (size, retail price), both minimized — the classic "cheapest for
    * its size class" query. A naive skyline is a quadratic NOT-EXISTS
    * self-join; this plan is two scans and no self-join:
    *  1. per-size minimum price (map-side-combinable aggregate);
    *  2. prefix-minimum over the per-size frontier — a window over the
    *     ~size-cardinality aggregate (the q82/q97 calendar-bounded
    *     class, never data-sized — contrast q73);
    *  3. broadcast the frontier back: a row survives iff it achieves
    *     its size's minimum AND every strictly smaller size is
    *     strictly more expensive.
    * Equivalence to NOT EXISTS dominance: a dominator has size ≤ and
    * price ≤ with one strict; within a size that is any cheaper row
    * (eliminated by 3's first conjunct); across sizes any ≤-price row
    * at a smaller size (eliminated by the prefix-min conjunct).
    * Equal (size, price) duplicates dominate nothing strictly and all
    * survive — both engines agree.
    */
  def q148Skyline(s: SparkSession, dir: String): DataFrame = {
    val p = part(s, dir).select(col("p_partkey"),
      col("p_size").cast("long").as("size"), col("p_retailprice").as("price"))
    val bySize = p.groupBy("size").agg(min("price").as("minp"))
    val wPrefix = Window.orderBy("size")
      .rowsBetween(Window.unboundedPreceding, -1)
    val frontier = bySize.withColumn("prefix_min", min("minp").over(wPrefix))
    p.join(broadcast(frontier), "size")
      .filter(col("price") === col("minp") &&
        (col("prefix_min").isNull || col("prefix_min") > col("price")))
      .select(col("p_partkey"), col("size"), col("price"))
      .orderBy("p_partkey")
  }

  val q148Oracle: String =
    """SELECT p.p_partkey, CAST(p.p_size AS BIGINT) AS size,
      | p.p_retailprice AS price
      |FROM part p
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM part q
      |  WHERE q.p_size <= p.p_size AND q.p_retailprice <= p.p_retailprice
      |    AND (q.p_size < p.p_size OR q.p_retailprice < p.p_retailprice))
      |ORDER BY p.p_partkey""".stripMargin

  /** Argmin join — TPC-H Q2's correlated "supplier with the minimum
    * price per part" decorrelated the Spark-native way: ONE aggregate
    * of `min(struct(price, suppkey))` per part (struct ordering is the
    * lexicographic (price, tie-break) — argmin without a join back or
    * a per-group sort), then the winners roll up per supplier nation
    * through a broadcast dimension join. At 100 TB this is one
    * co-partitioned shuffle on the group key; the window-rank
    * alternative sorts inside every partition and the correlated
    * subquery form rescans per row. Cents are exact int64; doubles
    * appear only in the final report column.
    */
  def q174ArgminJoin(s: SparkSession, dir: String): DataFrame = {
    val li = lineitem(s, dir).select(col("l_partkey"),
      round(col("l_extendedprice") * 100).cast("long").as("cents"),
      col("l_suppkey"))
    val winners = li.groupBy("l_partkey")
      .agg(min(struct(col("cents"), col("l_suppkey"))).as("w"))
      .select(col("l_partkey"), col("w.cents").as("cents"),
        col("w.l_suppkey").as("l_suppkey"))
    winners
      .join(broadcast(supplier(s, dir)
        .select(col("s_suppkey"), col("s_nationkey"))),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(nation(s, dir)
        .select(col("n_nationkey"), col("n_name"))),
        col("s_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(count(lit(1)).as("n_parts_won"),
        (sum("cents") / 100.0).cast("decimal(18,2)").cast("double")
          .as("total_min_price"))
      .orderBy("n_name")
  }

  val q174Oracle: String =
    """WITH li AS (SELECT l_partkey,
      |  CAST(round(l_extendedprice * 100) AS BIGINT) AS cents, l_suppkey
      | FROM lineitem),
      |w AS (SELECT l_partkey, cents, l_suppkey,
      |  row_number() OVER (PARTITION BY l_partkey
      |    ORDER BY cents, l_suppkey) AS rn
      | FROM li)
      |SELECT n_name, count(*) AS n_parts_won,
      | CAST(CAST(sum(cents) / 100.0 AS DECIMAL(18,2)) AS DOUBLE)
      |   AS total_min_price
      |FROM w
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation ON s_nationkey = n_nationkey
      |WHERE rn = 1
      |GROUP BY n_name
      |ORDER BY n_name""".stripMargin

  // ---- Correlated-subquery decorrelation gates (q181-q183) -----------
  //
  // These three queries are deliberately written as SQL text with
  // correlated subqueries — NOT as hand-composed DataFrame joins — so
  // they force Catalyst's decorrelation machinery
  // (RewritePredicateSubquery / RewriteCorrelatedScalarSubquery /
  // PullupCorrelatedPredicates) through the hash gate. At 100 TB a
  // per-row subquery re-execution is a nonstarter; the only acceptable
  // physical shape is the decorrelated one — semi/anti/left-outer
  // joins keyed on the correlation columns, each a single shuffle (or
  // broadcast) instead of N subquery scans. PlanSpec asserts exactly
  // that: no subquery nodes survive into the executed plan and the
  // rewrite produced the expected join types.
  //
  // Cross-engine determinism: every threshold compares against sums /
  // averages of INTEGER-VALUED doubles (l_quantity is 1..50), which
  // are exact in IEEE double for any summation order in both engines,
  // so `<`/`>` boundaries cannot flip between Spark and DuckDB.

  /** Registers the base tables as session temp views with a
    * query-scoped prefix, so concurrently-defined SQL gates can't
    * clobber each other's names and a later call with a different
    * `dir` re-points the views before the plan is built.
    */
  private def sqlViews(s: SparkSession, dir: String, prefix: String,
      names: String*): Unit =
    names.foreach(n => graft.Tables.table(s, dir, n)
      .createOrReplaceTempView(s"${prefix}_$n"))

  /** Suppliers-who-kept-orders-waiting (TPC-H Q21 shape; adapted to
    * this schema: `l_returnflag = 'R'` stands in for the missing
    * `l_receiptdate > l_commitdate` "late" predicate): for finished
    * orders with lines from MORE THAN ONE supplier, find the supplier
    * whose line was returned while NO other supplier's line on the
    * same order was — a multi EXISTS + NOT EXISTS on the same fact
    * table, each correlated on `l_orderkey` with an additional
    * NON-equality correlated predicate (`l2.l_suppkey <> l1.l_suppkey`).
    * Catalyst must rewrite the EXISTS to a left-semi and the NOT
    * EXISTS to a left-anti join, carrying the non-equi predicate into
    * the join condition; both joins key on l_orderkey, so the fact
    * table shuffles once per subquery on its natural key and the
    * per-group semantics cost no window or per-row rescan.
    */
  def q181WaitingSuppliers(s: SparkSession, dir: String): DataFrame = {
    sqlViews(s, dir, "q181", "supplier", "lineitem", "orders", "nation")
    s.sql(
      """SELECT n_name, s_name, count(*) AS numwait
        |FROM q181_supplier
        |JOIN q181_lineitem l1 ON s_suppkey = l1.l_suppkey
        |JOIN q181_orders ON o_orderkey = l1.l_orderkey
        |JOIN q181_nation ON s_nationkey = n_nationkey
        |WHERE o_orderstatus = 'F' AND l1.l_returnflag = 'R'
        |  AND EXISTS (SELECT 1 FROM q181_lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey
        |                AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM q181_lineitem l3
        |                  WHERE l3.l_orderkey = l1.l_orderkey
        |                    AND l3.l_suppkey <> l1.l_suppkey
        |                    AND l3.l_returnflag = 'R')
        |GROUP BY n_name, s_name
        |ORDER BY numwait DESC, n_name, s_name""".stripMargin)
  }

  val q181Oracle: String =
    """SELECT n_name, s_name, count(*) AS numwait
      |FROM supplier
      |JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
      |JOIN orders ON o_orderkey = l1.l_orderkey
      |JOIN nation ON s_nationkey = n_nationkey
      |WHERE o_orderstatus = 'F' AND l1.l_returnflag = 'R'
      |  AND EXISTS (SELECT 1 FROM lineitem l2
      |              WHERE l2.l_orderkey = l1.l_orderkey
      |                AND l2.l_suppkey <> l1.l_suppkey)
      |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
      |                  WHERE l3.l_orderkey = l1.l_orderkey
      |                    AND l3.l_suppkey <> l1.l_suppkey
      |                    AND l3.l_returnflag = 'R')
      |GROUP BY n_name, s_name
      |ORDER BY numwait DESC, n_name, s_name""".stripMargin

  /** Small-quantity-order revenue (TPC-H Q17 shape, per-brand): lines
    * whose quantity is below 20% of the per-part average quantity — a
    * SCALAR correlated subquery (`avg` over the same fact table,
    * correlated on `l_partkey`) in the WHERE clause. Decorrelated
    * shape: ONE extra aggregate of lineitem grouped by l_partkey,
    * joined back on the part key — O(n) + one shuffle, vs O(n·parts)
    * for naive per-row evaluation. The 0.2·avg threshold is exact
    * cross-engine: quantities are integer-valued, so sum and count
    * (hence avg) are order-independent IEEE doubles, and 0.2·avg is
    * the same one multiplication in both engines.
    */
  def q182SmallQuantityRevenue(s: SparkSession, dir: String): DataFrame = {
    sqlViews(s, dir, "q182", "lineitem", "part")
    s.sql(
      """SELECT p_brand,
        | round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly,
        | count(*) AS n_small
        |FROM q182_lineitem
        |JOIN q182_part ON p_partkey = l_partkey
        |WHERE l_quantity < (SELECT 0.2 * avg(l2.l_quantity)
        |                    FROM q182_lineitem l2
        |                    WHERE l2.l_partkey = p_partkey)
        |GROUP BY p_brand
        |ORDER BY p_brand""".stripMargin)
  }

  val q182Oracle: String =
    """SELECT p_brand,
      | round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly,
      | count(*) AS n_small
      |FROM lineitem
      |JOIN part ON p_partkey = l_partkey
      |WHERE l_quantity < (SELECT 0.2 * avg(l2.l_quantity)
      |                    FROM lineitem l2
      |                    WHERE l2.l_partkey = p_partkey)
      |GROUP BY p_brand
      |ORDER BY p_brand""".stripMargin

  /** Dominant-supplier detection (TPC-H Q20 shape; partsupp doesn't
    * exist in this schema, so "availability" becomes shipped volume):
    * suppliers that shipped MORE THAN 20% of some part's total
    * quantity (the sole-supplier bar is empty at every test SF; 20%
    * is dominance against the ~1/suppliers expected share and is
    * non-empty at sf0.001/0.01/0.1 alike) — an IN subquery whose body contains a correlated
    * SCALAR subquery in the HAVING clause (correlated on the grouping
    * column `l_partkey`). Two nested decorrelations: the inner scalar
    * becomes a per-part total joined to the (part, supplier) aggregate
    * on l_partkey; the outer IN becomes a left-semi join on s_suppkey.
    * 0.2·sum compares identically cross-engine: the sums are exact
    * integer-valued doubles, and both engines evaluate the same
    * literal·double product.
    */
  def q183DominantSuppliers(s: SparkSession, dir: String): DataFrame = {
    sqlViews(s, dir, "q183", "supplier", "lineitem")
    s.sql(
      """SELECT s_suppkey, s_name, round(s_acctbal, 2) AS s_acctbal
        |FROM q183_supplier
        |WHERE s_suppkey IN (
        |  SELECT l1.l_suppkey FROM q183_lineitem l1
        |  GROUP BY l1.l_partkey, l1.l_suppkey
        |  HAVING sum(l1.l_quantity) > (SELECT 0.2 * sum(l2.l_quantity)
        |                               FROM q183_lineitem l2
        |                               WHERE l2.l_partkey = l1.l_partkey))
        |ORDER BY s_suppkey""".stripMargin)
  }

  val q183Oracle: String =
    """SELECT s_suppkey, s_name, round(s_acctbal, 2) AS s_acctbal
      |FROM supplier
      |WHERE s_suppkey IN (
      |  SELECT l1.l_suppkey FROM lineitem l1
      |  GROUP BY l1.l_partkey, l1.l_suppkey
      |  HAVING sum(l1.l_quantity) > (SELECT 0.2 * sum(l2.l_quantity)
      |                               FROM lineitem l2
      |                               WHERE l2.l_partkey = l1.l_partkey))
      |ORDER BY s_suppkey""".stripMargin

  /** Rich-but-dormant customers (TPC-H Q22 shape): customers whose
    * balance beats the positive-balance average AND who never placed a
    * big-ticket order (>400k — every customer has SOME order in this
    * data, so Q22's literal "no orders at all" would gate on an empty,
    * hence hash-vacuous, result; the predicate inside the NOT EXISTS
    * keeps the result non-empty at sf0.001/0.01/0.1 alike without
    * changing the rewrite Catalyst must perform), rolled up by market
    * segment. Completes the decorrelation family next to q181-q183
    * with the two shapes they lack: an UNCORRELATED scalar subquery
    * (the global average — must execute exactly ONCE and enter the
    * plan as a literal-like scalar, never per-row) and a NOT EXISTS
    * against a DIFFERENT table (orders), which Catalyst must turn into
    * one left-anti join on c_custkey. At 100 TB the anti join is a
    * single shuffle of customer against orders' filtered custkey
    * projection, and the threshold subquery is a metadata-sized
    * broadcast — the naive reading (re-scan customer per row, probe
    * orders per row) never appears.
    *
    * Cross-engine determinism: balances are quantized to integer
    * cents BEFORE averaging (the q174 pattern), so sum and count are
    * exact in IEEE double regardless of summation order; both engines
    * then evaluate the identical sum/count division, and `cents >
    * threshold` promotes a <2^53 integer exactly. A raw
    * avg(c_acctbal) over doubles would be summation-order-dependent
    * and could flip a boundary row between engines.
    */
  def q186DormantCustomers(s: SparkSession, dir: String): DataFrame = {
    sqlViews(s, dir, "q186", "customer", "orders")
    s.sql(
      """WITH c AS (SELECT c_custkey, c_mktsegment,
        |    CAST(round(c_acctbal * 100) AS BIGINT) AS bal_c
        |  FROM q186_customer)
        |SELECT c_mktsegment, count(*) AS numcust,
        |  CAST(sum(bal_c) AS DOUBLE) / 100.0 AS totacctbal
        |FROM c
        |WHERE bal_c > (SELECT avg(bal_c) FROM c WHERE bal_c > 0)
        |  AND NOT EXISTS (SELECT 1 FROM q186_orders
        |                  WHERE o_custkey = c_custkey
        |                    AND o_totalprice > 400000)
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin)
  }

  val q186Oracle: String =
    """WITH c AS (SELECT c_custkey, c_mktsegment,
      |    CAST(round(c_acctbal * 100) AS BIGINT) AS bal_c
      |  FROM customer)
      |SELECT c_mktsegment, count(*) AS numcust,
      |  CAST(sum(bal_c) AS DOUBLE) / 100.0 AS totacctbal
      |FROM c
      |WHERE bal_c > (SELECT avg(bal_c) FROM c WHERE bal_c > 0)
      |  AND NOT EXISTS (SELECT 1 FROM orders
      |                  WHERE o_custkey = c_custkey
      |                    AND o_totalprice > 400000)
      |GROUP BY c_mktsegment
      |ORDER BY c_mktsegment""".stripMargin

  def gates: Seq[graft.Gate] = Seq(
    gate("q174_argmin_join", q174ArgminJoin, q174Oracle),
    gate("q148_skyline", q148Skyline, q148Oracle),
    gate("q146_pagerank_trade", q146PagerankTrade, q146Oracle),
    gate("q267_personalized_pagerank", q267PersonalizedPagerank, q267Oracle),
    gate("q269_harmonic_centrality", q269HarmonicCentrality, q269Oracle),
    gate("q127_trade_flows", q127TradeFlows, q127Oracle),
    gate("q1_pricing_summary", q1PricingSummary, q1Oracle),
    gate("q3_shipping_priority", q3ShippingPriority, q3Oracle),
    gate("q4_order_priority", q4OrderPriority, q4Oracle),
    gate("q5_nation_revenue", q5NationRevenue, q5Oracle),
    gate("q6_forecast", q6Forecast, q6Oracle),
    gate("q7_distinct_users", q7DistinctUsers, q7Oracle),
    gate("q8_top_orders_per_segment", q8TopOrdersPerSegment, q8Oracle),
    gate("q9_running_total", q9RunningTotal, q9Oracle),
    gate("q10_sessionization", q10Sessions, q10Oracle),
    gate("q11_customers_without_orders", q11CustomersWithoutOrders, q11Oracle),
    gate("q12_rollup", q12Rollup, q12Oracle),
    gate("q13_brand_revenue", q13BrandRevenue, q13Oracle),
    gate("q14_order_stats", q14OrderStats, q14Oracle),
    gate("q15_date_bounds", q15DateBounds, q15Oracle),
    gate("q16_set_ops", q16SetOps, q16Oracle),
    gate("q17_json_props", q17JsonProps, q17Oracle),
    gate("q104_variant_props", q104VariantProps, q104Oracle),
    gate("q18_hourly_events", q18HourlyEvents, q18Oracle),
    gate("q52_cube", q52Cube, q52Oracle),
    gate("q53_except", q53Except, q53Oracle),
    gate("q61_pivot_daily", q61PivotDaily, q61Oracle),
    gate("q64_session_window", q64SessionWindow, q10Oracle),
    gate("q70_nation_coverage", q70NationCoverage, q70Oracle),
    gate("q79_grouping_sets", q79GroupingSets, q79Oracle),
    gate("q86_topk_operator", q86TopKOperator, q8Oracle),
    gate("q87_bloom_pruned_join", q87BloomPrunedJoin, q87Oracle),
    gate("q181_waiting_suppliers", q181WaitingSuppliers, q181Oracle),
    gate("q182_small_qty_revenue", q182SmallQuantityRevenue, q182Oracle),
    gate("q183_dominant_suppliers", q183DominantSuppliers, q183Oracle),
    gate("q186_dormant_customers", q186DormantCustomers, q186Oracle)
  )
}
