// Copyright (c) 2026 graft contributors
// SPDX-License-Identifier: Apache-2.0

package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables._

/** Event-stream operators beyond the reference's batch surface ([EXT]):
  * as-of join and sketch-based distinct counting.
  */
object EventsOps extends graft.Gates {

  /** As-of join, composed from built-ins (SURVEY.md §2.3's preferred
    * path (a)): for every `error` event, the most recent `purchase` by
    * the same user at-or-before its timestamp. Implemented as the
    * union + ordered-window + last(ignoreNulls) pattern — a single
    * shuffle on user_id, no range-join explosion; the same plan shape
    * scales to a sort-merge as-of on a cluster.
    *
    * Tie rule: purchases sort before errors at the same millisecond
    * (at-or-before is inclusive) and later event_ids win among
    * same-ms purchases — the oracle mirrors both.
    */
  def q49AsofJoin(s: SparkSession, dir: String): DataFrame = {
    val e = events(s, dir)
      .withColumn("ms", unix_millis(col("ts").cast("timestamp")))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ms"), col("event_id"), col("value"),
        lit(0).as("side"))
    val errors = e.filter(col("event_type") === "error")
      .select(col("user_id"), col("ms"), col("event_id"), col("value"),
        lit(1).as("side"))
    val w = Window.partitionBy("user_id")
      .orderBy(col("ms"), col("side"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    purchases.unionByName(errors)
      .withColumn("last_purchase_ms",
        last(when(col("side") === 0, col("ms")), ignoreNulls = true).over(w))
      .withColumn("last_purchase_value",
        last(when(col("side") === 0, col("value")), ignoreNulls = true).over(w))
      .filter(col("side") === 1)
      .select(col("event_id"), col("user_id"), col("ms"),
        col("last_purchase_ms"),
        round(col("last_purchase_value"), 2).as("last_purchase_value"),
        (col("ms") - col("last_purchase_ms")).as("gap_ms"))
      .orderBy("event_id")
  }

  val q49Oracle: String =
    """WITH e AS (
      |  SELECT event_id, user_id, value, epoch_ms(ts) AS ms,
      |    CASE WHEN event_type = 'purchase' THEN 0 ELSE 1 END AS side
      |  FROM events
      |  WHERE event_type IN ('purchase', 'error')),
      |joined AS (
      |  SELECT *,
      |    last_value(CASE WHEN side = 0 THEN ms END IGNORE NULLS)
      |      OVER (PARTITION BY user_id ORDER BY ms, side, event_id
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |      AS last_purchase_ms,
      |    last_value(CASE WHEN side = 0 THEN value END IGNORE NULLS)
      |      OVER (PARTITION BY user_id ORDER BY ms, side, event_id
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |      AS last_purchase_value
      |  FROM e)
      |SELECT event_id, user_id, ms, last_purchase_ms,
      | round(last_purchase_value, 2) AS last_purchase_value,
      | ms - last_purchase_ms AS gap_ms
      |FROM joined
      |WHERE side = 1
      |ORDER BY event_id""".stripMargin

  /** HyperLogLog++ distinct counting (approx_count_distinct) gated via
    * a bounded-error witness: the sketch estimate itself is
    * implementation-specific (DuckDB's HLL differs), so the oracle
    * can't state it — but it CAN state the exact count plus the claim
    * the sketch exists to satisfy, |approx−exact|/exact ≤ 5%. The
    * boolean is deterministic because HLL register merges are
    * max-commutative: the sketch value is independent of partitioning
    * and arrival order, so the same data always yields the same
    * estimate. EventsOpsSpec keeps the tighter numeric bound.
    */
  def q50ApproxDistinct(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .groupBy("event_type")
      .agg(
        approx_count_distinct(col("user_id"), 0.02).as("approx_users"),
        countDistinct(col("user_id")).as("exact_users"))
      .select(col("event_type"), col("exact_users"),
        (abs(col("approx_users") - col("exact_users")) /
          col("exact_users") <= 0.05).as("approx_within_5pct"))
      .orderBy("event_type")

  val q50Oracle: String =
    """SELECT event_type, count(DISTINCT user_id) AS exact_users,
      | TRUE AS approx_within_5pct
      |FROM events GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** Bottom-k (KMV) distinct sketch + synchronized sample (q292) —
    * the third cardinality sketch beside HLL (q50) and CMS (q136),
    * and the one that is FULLY oracle-exact: hash the values with
    * md5 and keep the k smallest — the k-th smallest hash, read as a
    * uniform [0,1) via its first 8 hex digits, estimates
    * D ≈ (k−1)·2³²/u_k (the KMV estimator, Bar-Yossef et al. 2002),
    * and the kept rows double as a uniform distinct-value SAMPLE any
    * two engines agree on row-for-row (same hashes, same order).
    * Unlike HLL, the whole sketch is engine-deterministic, so the
    * gate pins the ESTIMATE itself — not just an error witness.
    * Fewer than k distinct values ⇒ the sketch IS the exact count
    * (the standard KMV small-cardinality arm; the gate data exercises
    * both arms across its SFs). Plan shape: the min-k is
    * TakeOrderedAndProject (distributed top-k, no global sort); the
    * 8-hex→int fold is plain integer arithmetic in both engines. At
    * 100 TB the same bottom-k folds per partition and merges min-k —
    * never more than k hashes per task.
    */
  def q292BottomkSketch(s: SparkSession, dir: String): DataFrame = {
    val k = 256
    val withH = events(s, dir).select(col("user_id"))
      .filter(col("user_id").isNotNull) // null hashes sort differently
      .distinct()                       // across engines — excluded
      .select(col("user_id"),
        md5(col("user_id").cast("string").cast("binary")).as("h"))
    val bottom = withH.orderBy("h").limit(k)
      .withColumn("rk", row_number().over(
        Window.orderBy("h")).cast("long")) // ≤ k rows: window is tiny
    val nKept = bottom.count()
    val est: Double =
      if (nKept < k) nKept.toDouble
      else {
        val hk = bottom.filter(col("rk") === k)
          .select(col("h")).head().getString(0)
        val uk = java.lang.Long.parseLong(hk.substring(0, 8), 16)
        (k - 1).toDouble * 4294967296.0 / uk
      }
    bottom.filter(col("rk") <= 5)
      .select(col("rk"), col("user_id"),
        lit(nKept < k).as("exact_arm"),
        round(lit(est), 2).as("kmv_estimate"))
      .orderBy("rk")
  }

  val q292Oracle: String =
    """WITH h AS (SELECT DISTINCT user_id,
      |  md5(CAST(user_id AS VARCHAR)) AS h FROM events
      |  WHERE user_id IS NOT NULL),
      |bottom AS (SELECT user_id, h,
      |  CAST(row_number() OVER (ORDER BY h) AS BIGINT) AS rk
      | FROM h ORDER BY h LIMIT 256),
      |n AS (SELECT count(*) AS nk FROM bottom),
      |uk AS (SELECT list_reduce(
      |    list_transform(range(1, 9), i ->
      |      strpos('0123456789abcdef', substr(h, CAST(i AS INT), 1))
      |        - 1),
      |    (a, b) -> a * 16 + b) AS u
      | FROM bottom WHERE rk = 256)
      |SELECT rk, user_id,
      |  (SELECT nk FROM n) < 256 AS exact_arm,
      |  round(CASE WHEN (SELECT nk FROM n) < 256
      |    THEN CAST((SELECT nk FROM n) AS DOUBLE)
      |    ELSE 255 * 4294967296.0 / (SELECT u FROM uk) END, 2)
      |    AS kmv_estimate
      |FROM bottom WHERE rk <= 5
      |ORDER BY rk""".stripMargin

  /** Sketch-based percentiles gated the q50 way: `approx_percentile`
    * (Greenwald-Khanna summaries — rank error bounded by 1/accuracy
    * REGARDLESS of merge order, so the booleans are stable) next to
    * the exact interpolated percentiles, emitting the exact values
    * plus a bounded-deviation witness the oracle can state. The
    * tolerance (5% relative + 0.01 absolute slack) is orders of
    * magnitude looser than the configured 1/10000 rank error — the
    * witness can only flip if the sketch breaks outright.
    */
  def q120ApproxPctWitness(s: SparkSession, dir: String): DataFrame = {
    def exact(p: Double, name: String) =
      round(expr(s"percentile(value, $p)"), 4).cast("decimal(18,4)")
        .cast("double").as(name)
    def close(approx: Column, e: Column): Column =
      abs(approx - e) <= abs(e) * 0.05 + lit(0.01)
    events(s, dir)
      .groupBy("event_type")
      .agg(exact(0.5, "p50_exact"), exact(0.9, "p90_exact"),
        expr("approx_percentile(value, array(0.5, 0.9), 10000)").as("ap"))
      .select(col("event_type"), col("p50_exact"), col("p90_exact"),
        (close(element_at(col("ap"), 1), col("p50_exact")) &&
          close(element_at(col("ap"), 2), col("p90_exact")))
          .as("approx_within_5pct"))
      .orderBy("event_type")
  }

  val q120Oracle: String =
    """SELECT event_type,
      | CAST(CAST(round(quantile_cont(value, 0.5), 4) AS DECIMAL(18,4))
      |   AS DOUBLE) AS p50_exact,
      | CAST(CAST(round(quantile_cont(value, 0.9), 4) AS DECIMAL(18,4))
      |   AS DOUBLE) AS p90_exact,
      | TRUE AS approx_within_5pct
      |FROM events GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** First-order Markov transition counts over each user's event
    * stream — the training-example shape for next-event prediction
    * and the standard behavioral-drift monitor. One window keyed on
    * user_id (millions of parallel partitions at scale, nothing
    * global), then a map-side-combinable count keyed on the 5×5 type
    * pair; ties inside a user's stream break on event_id so the
    * `lead` is deterministic in both engines.
    */
  def q122MarkovTransitions(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    events(s, dir)
      .withColumn("to_type", lead("event_type", 1).over(w))
      .filter(col("to_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
      .orderBy("from_type", "to_type")
  }

  val q122Oracle: String =
    """WITH t AS (SELECT event_type AS from_type,
      |  lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |    AS to_type
      | FROM events)
      |SELECT from_type, to_type, count(*) AS n FROM t
      |WHERE to_type IS NOT NULL
      |GROUP BY from_type, to_type
      |ORDER BY from_type, to_type""".stripMargin

  /** Daily funnel conversion: the fraction of (user, day) activity
    * streams containing the ordered view→click→purchase subsequence.
    * The per-user-day event sequence materializes as ONE row per
    * (user, day) — `collect_list` of (ms, event_id, type) structs,
    * `array_sort`ed so the aggregation is order-deterministic under
    * any partitioning (bare collect_list is not), joined to a type
    * string the subsequence regex probes. State per group is a day of
    * one user's events — bounded — and the daily rollup is
    * map-side-combinable.
    */
  def q132FunnelConversion(s: SparkSession, dir: String): DataFrame = {
    val converted = regexp_like(col("types"), lit("view.*click.*purchase"))
      .cast("int")
    events(s, dir)
      .withColumn("ms", unix_millis(col("ts").cast("timestamp")))
      .groupBy(col("user_id"), date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .agg(array_sort(collect_list(
        struct(col("ms"), col("event_id"), col("event_type")))).as("seq"))
      .withColumn("types",
        array_join(transform(col("seq"), _.getField("event_type")), ","))
      .groupBy("day")
      .agg(count(lit(1)).as("n_user_days"),
        sum(converted).cast("long").as("n_converted"),
        round(sum(converted) * lit(1.0) / count(lit(1)), 4)
          .cast("decimal(18,4)").cast("double").as("conversion"))
      .orderBy("day")
  }

  val q132Oracle: String =
    """WITH seq AS (SELECT user_id, strftime(ts, '%Y-%m-%d') AS day,
      |  string_agg(event_type, ',' ORDER BY epoch_ms(ts), event_id)
      |    AS types
      | FROM events GROUP BY 1, 2)
      |SELECT day, count(*) AS n_user_days,
      | CAST(sum(CASE WHEN regexp_matches(types, 'view.*click.*purchase')
      |   THEN 1 ELSE 0 END) AS BIGINT) AS n_converted,
      | CAST(CAST(round(sum(CASE WHEN regexp_matches(types,
      |   'view.*click.*purchase') THEN 1 ELSE 0 END) * 1.0 / count(*), 4)
      |   AS DECIMAL(18,4)) AS DOUBLE) AS conversion
      |FROM seq GROUP BY day ORDER BY day""".stripMargin

  /** Slowly-changing-dimension Type 2 built from an event stream: each
    * user's event_type is treated as a mutable status attribute, and
    * the output is the classic SCD2 validity-interval table — one row
    * per status CHANGE with [valid_from, valid_to) millisecond bounds,
    * the open current interval marked with a −1 sentinel. Two windows,
    * both keyed on user_id (never global): lag() finds change points,
    * lead() over the change points closes each interval. Consecutive
    * same-status events collapse — the output carries one row per
    * transition, not per event.
    */
  def q126Scd2(s: SparkSession, dir: String): DataFrame = {
    val wEv = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val chg = events(s, dir)
      .withColumn("ms", unix_millis(col("ts").cast("timestamp")))
      .withColumn("prev", lag("event_type", 1).over(wEv))
      .filter(col("prev").isNull || col("prev") =!= col("event_type"))
      .select(col("user_id"), col("event_type").as("status"),
        col("ms"), col("event_id"))
    val wChg = Window.partitionBy("user_id").orderBy(col("ms"), col("event_id"))
    chg
      .withColumn("valid_to_ms",
        coalesce(lead("ms", 1).over(wChg), lit(-1L)))
      .select(col("user_id"), col("status"),
        col("ms").as("valid_from_ms"), col("valid_to_ms"))
      .orderBy("user_id", "valid_from_ms", "status")
  }

  val q126Oracle: String =
    """WITH e AS (SELECT user_id, event_type, epoch_ms(ts) AS ms, event_id,
      |  lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |    AS prev
      | FROM events),
      |chg AS (SELECT user_id, event_type AS status, ms, event_id FROM e
      |  WHERE prev IS NULL OR prev <> event_type),
      |iv AS (SELECT user_id, status, ms AS valid_from_ms,
      |  lead(ms) OVER (PARTITION BY user_id ORDER BY ms, event_id)
      |    AS valid_to_ms
      | FROM chg)
      |SELECT user_id, status, valid_from_ms,
      | coalesce(valid_to_ms, CAST(-1 AS BIGINT)) AS valid_to_ms
      |FROM iv ORDER BY user_id, valid_from_ms, status""".stripMargin

  /** Inter-arrival gap distribution: per event type, the median and
    * p90 of milliseconds between a user's consecutive events — the
    * queueing/engagement metric behind session-timeout tuning and
    * bot detection. One user-keyed lag window (parallel per user),
    * then the exact-percentile report pattern (q65) over the gaps.
    */
  def q137ArrivalGaps(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ms"), col("event_id"))
    events(s, dir)
      .withColumn("ms", unix_millis(col("ts").cast("timestamp")))
      .withColumn("gap", col("ms") - lag("ms", 1).over(w))
      .filter(col("gap").isNotNull)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_gaps"),
        round(expr("percentile(gap, 0.5)"), 4).cast("decimal(18,4)")
          .cast("double").as("p50_gap_ms"),
        round(expr("percentile(gap, 0.9)"), 4).cast("decimal(18,4)")
          .cast("double").as("p90_gap_ms"))
      .orderBy("event_type")
  }

  val q137Oracle: String =
    """WITH g AS (SELECT event_type,
      |  epoch_ms(ts) - lag(epoch_ms(ts)) OVER (PARTITION BY user_id
      |    ORDER BY epoch_ms(ts), event_id) AS gap
      | FROM events)
      |SELECT event_type, count(*) AS n_gaps,
      | CAST(CAST(round(quantile_cont(gap, 0.5), 4) AS DECIMAL(18,4))
      |   AS DOUBLE) AS p50_gap_ms,
      | CAST(CAST(round(quantile_cont(gap, 0.9), 4) AS DECIMAL(18,4))
      |   AS DOUBLE) AS p90_gap_ms
      |FROM g WHERE gap IS NOT NULL
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Exact interpolated percentiles of value per event type — the
    * latency/size-distribution report shape. Spark's `percentile` and
    * DuckDB's `quantile_cont` implement the same linear interpolation
    * on the sorted values (h = (n-1)p), so the EXACT variant is
    * oracle-checkable, unlike the sketch-based approx_percentile
    * (t-digest, implementation-specific — same reason q50's HLL is
    * rows-only). Exact percentile needs the group's values collected
    * per reducer: fine for bounded group counts like this report;
    * at unbounded cardinality the sketch is the scale path.
    */
  def q65Percentiles(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .groupBy("event_type")
      .agg(
        round(expr("percentile(value, 0.5)"), 4).cast("decimal(18,4)")
          .cast("double").as("p50"),
        round(expr("percentile(value, 0.9)"), 4).cast("decimal(18,4)")
          .cast("double").as("p90"),
        round(expr("percentile(value, 0.99)"), 4).cast("decimal(18,4)")
          .cast("double").as("p99"),
        count(lit(1)).as("n"))
      .orderBy("event_type")

  val q65Oracle: String =
    """SELECT event_type,
      | CAST(CAST(round(quantile_cont(value, 0.5), 4) AS DECIMAL(18,4))
      |   AS DOUBLE) AS p50,
      | CAST(CAST(round(quantile_cont(value, 0.9), 4) AS DECIMAL(18,4))
      |   AS DOUBLE) AS p90,
      | CAST(CAST(round(quantile_cont(value, 0.99), 4) AS DECIMAL(18,4))
      |   AS DOUBLE) AS p99,
      | count(*) AS n
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** Band (interval) join without a theta join: for every `error`
    * event, the count and value of `purchase` events within ±60 s —
    * any user (incident-correlation shape: "what revenue was in
    * flight around each failure").
    *
    * A naive formulation is `JOIN ON abs(p.ms - e.ms) <= band`, which
    * Spark can only execute as BroadcastNestedLoopJoin / cartesian —
    * O(N·M) and a non-starter at 100 TB. Instead each side is hashed
    * to a time bucket of exactly the band width; an error in bucket b
    * can only band-match purchases in buckets {b-1, b, b+1}, so the
    * error side explodes to those three bucket keys and the join
    * becomes a plain equi shuffle join on `bucket` with an exact
    * |Δms| ≤ band re-filter. Work is O(matches + 3·errors), both
    * sides partition by bucket, and skew is bounded by events-per-
    * band-window. PlanSpec asserts no nested-loop join survives in
    * the physical plan. Unmatched errors are kept by joining the
    * match aggregate back (left) onto the error set.
    */
  def q75BandJoin(s: SparkSession, dir: String): DataFrame = {
    val band = 60000L // ±60 s, == bucket width
    val e = events(s, dir)
      .withColumn("ms", unix_millis(col("ts").cast("timestamp")))
    val errors = e.filter(col("event_type") === "error")
      .select(col("event_id"), col("ms"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("ms").as("p_ms"), col("value"),
        floor(col("ms") / band).as("bucket"))
    val b = floor(col("ms") / band)
    val errExp = errors.withColumn("bucket",
      explode(array(b - 1, b, b + 1)))
    val matches = errExp.join(purchases, "bucket")
      .filter(abs(col("p_ms") - col("ms")) <= band)
      .groupBy("event_id")
      .agg(count(lit(1)).as("cnt"),
        round(sum(col("value")), 2).cast("decimal(18,2)").as("sval"))
    errors.join(matches, Seq("event_id"), "left")
      .select(col("event_id"), col("ms"),
        coalesce(col("cnt"), lit(0L)).as("nearby_purchases"),
        coalesce(col("sval"), lit(BigDecimal(0)).cast("decimal(18,2)"))
          .cast("double").as("nearby_value"))
      .orderBy("event_id")
  }

  val q75Oracle: String =
    """WITH err AS (
      |  SELECT event_id, epoch_ms(ts) AS ms FROM events
      |  WHERE event_type = 'error'),
      |pur AS (
      |  SELECT epoch_ms(ts) AS p_ms, value FROM events
      |  WHERE event_type = 'purchase'),
      |m AS (
      |  SELECT e.event_id, count(*) AS cnt,
      |    CAST(round(sum(p.value), 2) AS DECIMAL(18,2)) AS sval
      |  FROM err e JOIN pur p ON abs(p.p_ms - e.ms) <= 60000
      |  GROUP BY e.event_id)
      |SELECT e.event_id, e.ms,
      |  coalesce(m.cnt, 0) AS nearby_purchases,
      |  CAST(coalesce(m.sval, CAST(0 AS DECIMAL(18,2))) AS DOUBLE)
      |    AS nearby_value
      |FROM err e LEFT JOIN m USING (event_id)
      |ORDER BY event_id""".stripMargin

  /** Day-over-day revenue report: lag for the delta, ntile(4) for the
    * quartile band — the remaining window-function family (q9 covers
    * running sums, q8 row_number topN, q49 last-ignoreNulls).
    *
    * Scale shape: the windows here are GLOBAL (no partition key), which
    * is only sane because they run over the 30-row daily AGGREGATE,
    * not the raw events — aggregate first, window the small result.
    * Deltas subtract exact DECIMALs, so ordering differences can't
    * leak into the output bits.
    */
  def q82DailyDeltas(s: SparkSession, dir: String): DataFrame = {
    val daily = events(s, dir)
      .filter(col("event_type") === "purchase")
      .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .agg(round(sum("value"), 2).cast("decimal(18,2)").as("revenue"))
    val byDay = Window.orderBy("day")
    val byRevenue = Window.orderBy(col("revenue").desc, col("day"))
    daily
      .withColumn("delta",
        (col("revenue") - lag("revenue", 1).over(byDay))
          .cast("decimal(18,2)").cast("double"))
      .withColumn("quartile", ntile(4).over(byRevenue).cast("long"))
      .withColumn("revenue", col("revenue").cast("double"))
      .orderBy("day")
  }

  val q82Oracle: String =
    """WITH daily AS (
      |  SELECT strftime(ts, '%Y-%m-%d') AS day,
      |    CAST(round(sum(value), 2) AS DECIMAL(18,2)) AS revenue
      |  FROM events WHERE event_type = 'purchase'
      |  GROUP BY day)
      |SELECT day, CAST(revenue AS DOUBLE) AS revenue,
      |  CAST(CAST(revenue - lag(revenue, 1) OVER (ORDER BY day)
      |    AS DECIMAL(18,2)) AS DOUBLE) AS delta,
      |  CAST(ntile(4) OVER (ORDER BY revenue DESC, day) AS BIGINT)
      |    AS quartile
      |FROM daily
      |ORDER BY day""".stripMargin

  /** Typed cogroup (KeyValueGroupedDataset.cogroup): per-user funnel
    * reconciliation over the view and purchase streams with arbitrary
    * Scala logic per key — the API for per-key merge logic that
    * doesn't decompose into joins/aggregates. Both sides shuffle once
    * on user_id and each key's two iterators stream through the
    * function (no per-key materialization beyond what the logic
    * holds — here two counters and two minima, O(1) per key).
    *
    * Output: views, purchases, first view, and the first purchase
    * at-or-after the first view (the conversion latency numerator) —
    * all integers/longs, so parity is exact.
    */
  def q92CogroupFunnel(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = events(s, dir)
      .withColumn("ms", unix_millis(col("ts").cast("timestamp")))
    val views = e.filter(col("event_type") === "view")
      .select(col("user_id"), col("ms")).as[(Long, Long)]
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ms")).as[(Long, Long)]
    views.groupByKey(_._1)
      .cogroup(purchases.groupByKey(_._1)) { (user, vs, ps) =>
        var nV = 0L; var firstView = Long.MaxValue
        vs.foreach { v => nV += 1; if (v._2 < firstView) firstView = v._2 }
        val pMs = ps.map(_._2).toArray
        val nP = pMs.length.toLong
        val firstConv =
          if (firstView == Long.MaxValue) None
          else pMs.filter(_ >= firstView).minOption
        Iterator.single((user, nV, nP,
          if (firstView == Long.MaxValue) None else Some(firstView),
          firstConv))
      }
      .toDF("user_id", "n_views", "n_purchases", "first_view_ms",
        "first_conv_ms")
      .orderBy("user_id")
  }

  val q92Oracle: String =
    """WITH e AS (
      |  SELECT user_id, event_type, epoch_ms(ts) AS ms FROM events
      |  WHERE event_type IN ('view', 'purchase')),
      |v AS (SELECT user_id, count(*) AS n_views, min(ms) AS first_view_ms
      |      FROM e WHERE event_type = 'view' GROUP BY user_id),
      |p AS (SELECT user_id, count(*) AS n_purchases FROM e
      |      WHERE event_type = 'purchase' GROUP BY user_id),
      |conv AS (
      |  SELECT e.user_id, min(e.ms) AS first_conv_ms
      |  FROM e JOIN v USING (user_id)
      |  WHERE e.event_type = 'purchase' AND e.ms >= v.first_view_ms
      |  GROUP BY e.user_id)
      |SELECT user_id,
      |  coalesce(v.n_views, 0) AS n_views,
      |  coalesce(p.n_purchases, 0) AS n_purchases,
      |  v.first_view_ms, conv.first_conv_ms
      |FROM v FULL OUTER JOIN p USING (user_id)
      |LEFT JOIN conv USING (user_id)
      |ORDER BY user_id""".stripMargin

  /** Time-series resample + gap fill: a sparse daily series (days with
    * no qualifying events are MISSING, not zero) is re-gridded onto
    * the full day spine and forward-filled — last observation carried
    * forward, the standard feature-store/monitoring resample. Days
    * before a series' first observation stay NULL (LOCF has nothing
    * to carry), and observation counts fill with 0 — the two fill
    * semantics a resample must keep distinct.
    *
    * Scale shape: the aggregate runs BEFORE the spine join, so the
    * exchange carries one row per (series, observed day), never raw
    * events; the spine is |series| × |days| (metadata-sized, built
    * from one min/max row) and broadcasts; LOCF is a running `last(
    * ignoreNulls)` windowed PER SERIES — each series' window sorts
    * spine-sized rows, and series are independent, so a 100k-series
    * store parallelizes on the series key with no global sort. Output
    * days are strings (the engine's cross-engine schema rule: no DATE
    * in output schemas).
    */
  def q114GapFill(s: SparkSession, dir: String): DataFrame = {
    val e = events(s, dir)
    val bounds = e.agg(
      min(to_date(col("ts"))).as("lo"), max(to_date(col("ts"))).as("hi"))
      .head()
    // empty input: no dates to spine over — the gap-filled series of
    // nothing is nothing (sequence(NULL, NULL) would throw instead)
    if (bounds.isNullAt(0))
      return e.sparkSession.range(0).select(
        lit("").as("event_type"), lit("").as("day"),
        lit(0L).as("n_obs"), lit(null).cast("double").as("filled_max"))
    val spine = e.select(col("event_type")).distinct()
      .crossJoin(org.apache.spark.sql.functions.broadcast(
        e.sparkSession.range(1).select(explode(sequence(
          lit(bounds.getDate(0)), lit(bounds.getDate(1)))).as("day"))))
    val daily = e.filter(col("value") > 300)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n_obs"), max(col("value")).as("mx"))
    val bySeries = org.apache.spark.sql.expressions.Window
      .partitionBy("event_type").orderBy("day")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    spine.join(daily, Seq("event_type", "day"), "left")
      .select(
        col("event_type"),
        date_format(col("day"), "yyyy-MM-dd").as("day"),
        coalesce(col("n_obs"), lit(0L)).as("n_obs"),
        last(col("mx"), ignoreNulls = true).over(bySeries).as("filled_max"))
      .orderBy("event_type", "day")
  }

  val q114Oracle: String =
    """WITH b AS (SELECT min(CAST(ts AS DATE)) AS lo,
      |                  max(CAST(ts AS DATE)) AS hi FROM events),
      |spine AS (
      |  SELECT t.event_type, CAST(d.day AS DATE) AS day
      |  FROM (SELECT DISTINCT event_type FROM events) t
      |  CROSS JOIN (SELECT unnest(generate_series(
      |    (SELECT lo FROM b), (SELECT hi FROM b),
      |    INTERVAL 1 DAY)) AS day) d),
      |daily AS (
      |  SELECT event_type, CAST(ts AS DATE) AS day,
      |    count(*) AS n_obs, max(value) AS mx
      |  FROM events WHERE value > 300
      |  GROUP BY event_type, CAST(ts AS DATE))
      |SELECT s.event_type,
      | strftime(s.day, '%Y-%m-%d') AS day,
      | CAST(coalesce(d.n_obs, 0) AS BIGINT) AS n_obs,
      | last_value(d.mx IGNORE NULLS) OVER (
      |   PARTITION BY s.event_type ORDER BY s.day
      |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_max
      |FROM spine s LEFT JOIN daily d USING (event_type, day)
      |ORDER BY event_type, day""".stripMargin

  /** Rolling distinct users — DAU, trailing-7-day WAU, and their
    * ratio (the product-analytics "stickiness" report). COUNT
    * DISTINCT over a sliding date RANGE is not window-decomposable
    * (Spark has no distinct-over-range frame), so the scalable shape
    * is dedup-then-explode: reduce events to distinct (user, day)
    * pairs FIRST (map-side-combinable — the only pass over raw
    * events), then explode each pair to the ≤7 target days it
    * supports and count distinct per day. The shuffle carries
    * user-day pairs ×7, never events ×7; an HLL++ sketch per day is
    * the approximate variant when even that is too wide.
    *
    * Stickiness is a ratio of exact integers rounded to 4 dp —
    * hash-stable cross-engine.
    */
  def q117RollingActive(s: SparkSession, dir: String): DataFrame = {
    val ud = events(s, dir)
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
    val days = ud.select("day").distinct()
    val dau = ud.groupBy("day").agg(countDistinct("user_id").as("dau"))
    val wau = ud
      .select(col("user_id"),
        explode(sequence(col("day"), date_add(col("day"), 6))).as("day"))
      .join(days, Seq("day"), "left_semi")
      .groupBy("day").agg(countDistinct("user_id").as("wau"))
    dau.join(wau, "day")
      .select(
        date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("dau"), col("wau"),
        round(col("dau").cast("double") / col("wau"), 4).as("stickiness"))
      .orderBy("day")
  }

  val q117Oracle: String =
    """WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
      |            FROM events),
      |days AS (SELECT DISTINCT day FROM ud),
      |dau AS (SELECT day, count(DISTINCT user_id) AS dau FROM ud
      |        GROUP BY day),
      |x AS (SELECT user_id,
      |  unnest([day + to_days(CAST(k AS INTEGER))
      |          for k in generate_series(0, 6)]) AS day
      | FROM ud),
      |wau AS (SELECT x.day, count(DISTINCT x.user_id) AS wau
      |        FROM x JOIN days d ON x.day = d.day GROUP BY x.day)
      |SELECT strftime(dau.day, '%Y-%m-%d') AS day, dau.dau, wau.wau,
      | round(CAST(dau.dau AS DOUBLE) / wau.wau, 4) AS stickiness
      |FROM dau JOIN wau ON dau.day = wau.day
      |ORDER BY day""".stripMargin

  /** Retention cohort matrix — the "day-N retention" table every
    * product-analytics stack derives: users bucketed by first-seen day
    * (their cohort), then distinct-user counts per (cohort, day-offset)
    * cell. One shuffle on user_id computes the cohort via a window-min
    * (no second join against a per-user cohort table); the cell
    * aggregation then shuffles the already-deduplicated (user, day)
    * pairs — rows bounded by users × active-days, far below raw events.
    */
  def q143RetentionCohorts(s: SparkSession, dir: String): DataFrame = {
    val ud = events(s, dir)
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
    val w = Window.partitionBy("user_id")
    ud.withColumn("cohort_day", min(col("day")).over(w))
      .groupBy(col("cohort_day"),
        datediff(col("day"), col("cohort_day")).as("offset_days"))
      .agg(countDistinct("user_id").as("n_users"))
      .select(date_format(col("cohort_day"), "yyyy-MM-dd").as("cohort_day"),
        col("offset_days").cast("long").as("offset_days"), col("n_users"))
      .orderBy("cohort_day", "offset_days")
  }

  val q143Oracle: String =
    """WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
      |            FROM events),
      |c AS (SELECT user_id, day,
      |  min(day) OVER (PARTITION BY user_id) AS cohort_day FROM ud)
      |SELECT strftime(cohort_day, '%Y-%m-%d') AS cohort_day,
      | CAST(day - cohort_day AS BIGINT) AS offset_days,
      | count(DISTINCT user_id) AS n_users
      |FROM c
      |GROUP BY cohort_day, day - cohort_day
      |ORDER BY cohort_day, offset_days""".stripMargin

  /** Last-touch attribution: each purchase credits the user's most
    * recent preceding non-purchase event within a 1-hour lookback, or
    * 'none'. Same union-free ordered-window shape as the as-of join
    * (q49): one shuffle on user_id, last(ignoreNulls) over
    * rows-preceding — no range-join explosion, and the plan is a
    * sort-merge window at any scale. Ties at the same millisecond
    * resolve by event_id (mirrored in the oracle).
    */
  def q144LastTouch(s: SparkSession, dir: String): DataFrame = {
    val e = events(s, dir)
      .withColumn("ms", unix_millis(col("ts").cast("timestamp")))
    val w = Window.partitionBy("user_id")
      .orderBy(col("ms"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val nonPurchase = when(col("event_type") =!= "purchase", col("event_type"))
    e.withColumn("prev_type",
        last(nonPurchase, ignoreNulls = true).over(w))
      .withColumn("prev_ms",
        last(when(col("event_type") =!= "purchase", col("ms")),
          ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .withColumn("channel",
        when(col("prev_ms").isNotNull &&
          col("prev_ms") >= col("ms") - lit(3600000L), col("prev_type"))
          .otherwise(lit("none")))
      .groupBy("channel")
      .agg(count(lit(1)).as("n_purchases"),
        round(sum("value"), 2).cast("decimal(18,2)")
          .cast("double").as("attributed_value"))
      .orderBy("channel")
  }

  val q144Oracle: String =
    """WITH e AS (SELECT event_id, user_id, event_type, value,
      |  epoch_ms(ts) AS ms FROM events),
      |t AS (SELECT *,
      |  last_value(CASE WHEN event_type <> 'purchase' THEN event_type END
      |    IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ms, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_type,
      |  last_value(CASE WHEN event_type <> 'purchase' THEN ms END
      |    IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ms, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_ms
      |  FROM e)
      |SELECT CASE WHEN prev_ms IS NOT NULL AND prev_ms >= ms - 3600000
      |       THEN prev_type ELSE 'none' END AS channel,
      | count(*) AS n_purchases,
      | CAST(CAST(round(sum(value), 2) AS DECIMAL(18,2)) AS DOUBLE)
      |   AS attributed_value
      |FROM t
      |WHERE event_type = 'purchase'
      |GROUP BY 1
      |ORDER BY channel""".stripMargin

  /** Kaplan-Meier survival curve (product-limit estimator, Kaplan &
    * Meier JASA 1958) — time from signup to first purchase with
    * right-censoring at the end of observation; THE time-to-event
    * analysis of clinical follow-up studies (the reference's health
    * domain). Output is the classic life table: per duration day, the
    * risk set, events, censorings, and S(t) = Π_{i≤t}(1 − d_i/n_i).
    *
    * Determinism: durations are integer micros (DIV — exact in both
    * engines); the cumulative product runs as exp∘Σln over the life
    * table's ≤observation-window rows in day order, 6-dp rounded; a
    * day that empties the risk set (haz = 0) pins S to exactly 0.0 in
    * both engines rather than relying on ln(0) semantics (Spark's log
    * yields NULL there, DuckDB's -inf).
    *
    * Scale: two user-keyed aggregations (map-side combinable) + one
    * broadcast scalar (censor horizon, cohort size); the life table
    * itself is bounded by the observation window in DAYS — the
    * unpartitioned windows run over that bounded frame, never over
    * raw events.
    */
  def q192KaplanMeier(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir).select(col("user_id"), col("event_type"),
      // ts arrives TIMESTAMP_NTZ; the session TZ is pinned UTC, so the
      // ltz cast is a deterministic identity on the stored instant
      unix_micros(col("ts").cast("timestamp")).as("us"))
    val t0 = ev.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min("us").as("t0"))
    val firstP = ev.filter(col("event_type") === "purchase")
      .join(t0, "user_id").filter(col("us") >= col("t0"))
      .groupBy("user_id").agg(min("us").as("tp"))
    val horizon = broadcast(ev.agg(max("us").as("tmax")))
    val perUser = t0.join(firstP, Seq("user_id"), "left")
      .crossJoin(horizon)
      .select(
        when(col("tp").isNotNull,
          expr("(tp - t0) DIV 86400000000"))
          .otherwise(expr("(tmax - t0) DIV 86400000000")).as("day"),
        col("tp").isNotNull.as("is_event"))
    val cohort = broadcast(t0.agg(count(lit(1)).as("n_total")))
    val lt = perUser.groupBy("day")
      .agg(sum(when(col("is_event"), 1L).otherwise(0L)).as("n_event"),
        sum(when(col("is_event"), 0L).otherwise(1L)).as("n_censored"))
      .crossJoin(cohort)
    // bounded frame: one row per duration DAY in the observation
    // window (≤ ~30), so the unpartitioned cumulative windows are
    // metadata-sized by construction
    val before = Window.orderBy("day")
      .rowsBetween(Window.unboundedPreceding, -1)
    val upto = Window.orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    lt.withColumn("n_risk", col("n_total") -
        coalesce(sum(col("n_event") + col("n_censored")).over(before),
          lit(0L)))
      .withColumn("haz",
        lit(1.0) - col("n_event").cast("double") / col("n_risk"))
      .select(col("day"), col("n_risk"), col("n_event"), col("n_censored"),
        when(min("haz").over(upto) === 0.0, lit(0.0))
          .otherwise(round(exp(
            sum(log(when(col("haz") > 0, col("haz")))).over(upto)), 6))
          .as("surv"))
      .orderBy("day")
  }

  val q192Oracle: String =
    """WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS us
      |  FROM events),
      |t0 AS (SELECT user_id, min(us) AS t0 FROM ev
      |  WHERE event_type = 'signup' GROUP BY 1),
      |fp AS (SELECT e.user_id, min(e.us) AS tp
      |  FROM ev e JOIN t0 USING (user_id)
      |  WHERE e.event_type = 'purchase' AND e.us >= t0.t0 GROUP BY 1),
      |hz AS (SELECT max(us) AS tmax FROM ev),
      |pu AS (SELECT
      |    CASE WHEN fp.tp IS NOT NULL THEN (fp.tp - t0.t0) // 86400000000
      |         ELSE (hz.tmax - t0.t0) // 86400000000 END AS day,
      |    fp.tp IS NOT NULL AS is_event
      |  FROM t0 LEFT JOIN fp USING (user_id) CROSS JOIN hz),
      |tot AS (SELECT count(*) AS n_total FROM t0),
      |lt AS (SELECT day,
      |    sum(CASE WHEN is_event THEN 1 ELSE 0 END) AS n_event,
      |    sum(CASE WHEN is_event THEN 0 ELSE 1 END) AS n_censored
      |  FROM pu GROUP BY 1),
      |risk AS (SELECT day, n_event, n_censored,
      |    n_total - coalesce(sum(n_event + n_censored) OVER
      |      (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
      |       AND 1 PRECEDING), 0) AS n_risk
      |  FROM lt CROSS JOIN tot),
      |haz AS (SELECT day, n_risk, n_event, n_censored,
      |    1.0 - CAST(n_event AS DOUBLE) / n_risk AS haz FROM risk)
      |SELECT day, CAST(n_risk AS BIGINT) AS n_risk,
      |  CAST(n_event AS BIGINT) AS n_event,
      |  CAST(n_censored AS BIGINT) AS n_censored,
      |  CASE WHEN min(haz) OVER w = 0 THEN 0.0
      |       ELSE round(exp(sum(ln(CASE WHEN haz > 0 THEN haz END))
      |         OVER w), 6) END AS surv
      |FROM haz
      |WINDOW w AS (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
      |  AND CURRENT ROW)
      |ORDER BY day""".stripMargin

  /** Log-rank test (q274) — the two-sample COMPARISON q192's
    * Kaplan–Meier curves ask for next: does cohort A (even user ids)
    * reach first purchase on a different schedule than cohort B?
    * Mantel–Haenszel form: at each event day t,
    * E₁(t) = d_t·n₁(t)/n(t) and
    * V(t) = d_t·(n₁/n)·(1−n₁/n)·(n−d)/(n−1);
    * χ² = (ΣO₁ − ΣE₁)²/ΣV against the df=1 bar 3.841. Risk sets are
    * exact integers from the same censoring construction as q192; the
    * per-day E/V terms are a few IEEE ops on exact counts, 6-dp
    * rounded and DECIMAL-quantized before the order-independent sums;
    * the cumulative risk-set windows run over the day-bounded life
    * table, never raw events.
    */
  def q274LogRank(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir).select(col("user_id"), col("event_type"),
      unix_micros(col("ts").cast("timestamp")).as("us"))
    val t0 = ev.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min("us").as("t0"))
    val firstP = ev.filter(col("event_type") === "purchase")
      .join(t0, "user_id").filter(col("us") >= col("t0"))
      .groupBy("user_id").agg(min("us").as("tp"))
    val horizon = broadcast(ev.agg(max("us").as("tmax")))
    val perUser = t0.join(firstP, Seq("user_id"), "left")
      .crossJoin(horizon)
      .select(
        when(col("tp").isNotNull,
          expr("(tp - t0) DIV 86400000000"))
          .otherwise(expr("(tmax - t0) DIV 86400000000")).as("day"),
        col("tp").isNotNull.as("is_event"),
        (col("user_id") % 2 === 0).as("g1"))
    val sizes = broadcast(perUser.agg(
      sum(when(col("g1"), 1L).otherwise(0L)).as("n1_total"),
      count(lit(1)).as("n_total")))
    val lt = perUser.groupBy("day")
      .agg(
        sum(when(col("g1") && col("is_event"), 1L).otherwise(0L))
          .as("d1"),
        sum(when(col("is_event"), 1L).otherwise(0L)).as("d"),
        sum(when(col("g1"), 1L).otherwise(0L)).as("rm1"),
        count(lit(1)).as("rm"))
      .crossJoin(sizes)
    val before = Window.orderBy("day")
      .rowsBetween(Window.unboundedPreceding, -1)
    // bounded frame: one life-table row per duration day
    val risk = lt
      .withColumn("n1", col("n1_total") -
        coalesce(sum("rm1").over(before), lit(0L)))
      .withColumn("n", col("n_total") -
        coalesce(sum("rm").over(before), lit(0L)))
      .filter(col("d") > 0 && col("n") > 1)
    val p1 = col("n1").cast("double") / col("n").cast("double")
    val terms = risk.select(col("d1"),
      round(col("d").cast("double") * p1, 6)
        .cast("decimal(18,6)").as("e1"),
      round(col("d").cast("double") * p1 * (lit(1.0) - p1) *
        (col("n") - col("d")).cast("double") /
        (col("n") - 1).cast("double"), 6)
        .cast("decimal(18,6)").as("v"))
    val agg = terms.agg(sum("d1").as("o1"),
      sum("e1").cast("double").as("e1"),
      sum("v").cast("double").as("v"))
    agg.crossJoin(sizes).select(
      col("n1_total"), (col("n_total") - col("n1_total")).as("n2_total"),
      col("o1"), round(col("e1"), 4).as("e1"),
      when(col("v") > 0, round(
        (col("o1").cast("double") - col("e1")) *
          (col("o1").cast("double") - col("e1")) / col("v"), 4))
        .as("chi2"),
      when(col("v") > 0, round(
        (col("o1").cast("double") - col("e1")) *
          (col("o1").cast("double") - col("e1")) / col("v"), 4) > 3.841)
        .as("significant"))
  }

  val q274Oracle: String =
    """WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS us
      |  FROM events),
      |t0 AS (SELECT user_id, min(us) AS t0 FROM ev
      |  WHERE event_type = 'signup' GROUP BY 1),
      |fp AS (SELECT e.user_id, min(e.us) AS tp
      |  FROM ev e JOIN t0 USING (user_id)
      |  WHERE e.event_type = 'purchase' AND e.us >= t0.t0 GROUP BY 1),
      |hz AS (SELECT max(us) AS tmax FROM ev),
      |pu AS (SELECT
      |    CASE WHEN fp.tp IS NOT NULL THEN (fp.tp - t0.t0) // 86400000000
      |         ELSE (hz.tmax - t0.t0) // 86400000000 END AS day,
      |    fp.tp IS NOT NULL AS is_event,
      |    t0.user_id % 2 = 0 AS g1
      |  FROM t0 LEFT JOIN fp USING (user_id) CROSS JOIN hz),
      |sz AS (SELECT
      |    CAST(sum(CASE WHEN g1 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n1_total,
      |    CAST(count(*) AS BIGINT) AS n_total FROM pu),
      |lt AS (SELECT day,
      |    CAST(sum(CASE WHEN g1 AND is_event THEN 1 ELSE 0 END)
      |      AS BIGINT) AS d1,
      |    CAST(sum(CASE WHEN is_event THEN 1 ELSE 0 END) AS BIGINT)
      |      AS d,
      |    CAST(sum(CASE WHEN g1 THEN 1 ELSE 0 END) AS BIGINT) AS rm1,
      |    CAST(count(*) AS BIGINT) AS rm
      |  FROM pu GROUP BY 1),
      |risk AS (SELECT day, d1, d,
      |    n1_total - coalesce(sum(rm1) OVER
      |      (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
      |       AND 1 PRECEDING), 0) AS n1,
      |    n_total - coalesce(sum(rm) OVER
      |      (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
      |       AND 1 PRECEDING), 0) AS n
      |  FROM lt CROSS JOIN sz),
      |terms AS (SELECT d1,
      |    CAST(round(CAST(d AS DOUBLE)
      |      * (CAST(n1 AS DOUBLE) / CAST(n AS DOUBLE)), 6)
      |      AS DECIMAL(18,6)) AS e1,
      |    CAST(round(CAST(d AS DOUBLE)
      |      * (CAST(n1 AS DOUBLE) / CAST(n AS DOUBLE))
      |      * (1.0 - CAST(n1 AS DOUBLE) / CAST(n AS DOUBLE))
      |      * CAST(n - d AS DOUBLE) / CAST(n - 1 AS DOUBLE), 6)
      |      AS DECIMAL(18,6)) AS v
      |  FROM risk WHERE d > 0 AND n > 1),
      |agg AS (SELECT CAST(sum(d1) AS BIGINT) AS o1,
      |    CAST(sum(e1) AS DOUBLE) AS e1,
      |    CAST(sum(v) AS DOUBLE) AS v FROM terms)
      |SELECT n1_total, n_total - n1_total AS n2_total, o1,
      |  round(e1, 4) AS e1,
      |  CASE WHEN v > 0 THEN round((CAST(o1 AS DOUBLE) - e1)
      |    * (CAST(o1 AS DOUBLE) - e1) / v, 4) END AS chi2,
      |  CASE WHEN v > 0 THEN round((CAST(o1 AS DOUBLE) - e1)
      |    * (CAST(o1 AS DOUBLE) - e1) / v, 4) > 3.841 END
      |    AS significant
      |FROM agg CROSS JOIN sz""".stripMargin

  /** Walk-forward forecast backtest — the evaluation harness q6's
    * forecast is missing: at each cutoff day, two models forecast the
    * next 7 days of event volume from data STRICTLY at-or-before the
    * cutoff (seasonal-naive = the count 7 days earlier; moving-average
    * = mean of the trailing 7 days), and the report scores each
    * (cutoff, model) by MAE over the horizon. No leakage by
    * construction: every feature the models read is ≤ cutoff.
    *
    * Exactness: counts are integers; the moving-average forecast is a
    * rational with denominator 7, so errors are |7·actual − Σ|/7 —
    * integer numerators until one final division, rounded at 6 dp.
    * No libm anywhere.
    *
    * Scale shape: ONE map-side-combinable aggregation reduces the
    * corpus to a day-level frame (bounded by the observation window at
    * any corpus size); the cutoff grid, model joins, and scoring all
    * run on that bounded frame.
    */
  def q201BacktestForecast(s: SparkSession, dir: String): DataFrame = {
    val daily = events(s, dir)
      .groupBy(date_trunc("day", col("ts")).cast("date").as("day"))
      .agg(count(lit(1)).as("n"))
      .withColumn("d0", min("day").over(
        Window.orderBy("day").rowsBetween(
          Window.unboundedPreceding, Window.currentRow)))
      .select(datediff(col("day"), col("d0")).cast("long").as("di"),
        col("n"))
      .localCheckpoint()
    val cutoffs = Seq(14L, 21L)
    val grid = s.createDataFrame(
      for (c <- cutoffs; h <- 1L to 7L) yield (c, c + h))
      .toDF("cutoff", "di")
    // actuals for each horizon day; seasonal-naive reads di-7, the
    // moving average sums (di-7 .. di-1 ∩ ≤ cutoff) — both windows
    // end at-or-before the cutoff for every horizon day by h ≤ 7
    val actual = grid.join(daily, "di")
      .select(col("cutoff"), col("di"), col("n").as("actual"))
    val naive = daily.select((col("di") + 7).as("di"),
      col("n").as("fc_naive"))
    val trail = daily.select(col("di").as("src"), col("n"))
    val ma = actual.select(col("cutoff"), col("di"))
      .join(trail,
        col("src") >= col("di") - 7 && col("src") < col("di") &&
          col("src") <= col("cutoff"))
      .groupBy("cutoff", "di")
      .agg(sum("n").as("ma_sum"), count(lit(1)).as("ma_n"))
    val scored = actual
      .join(naive, Seq("di"), "left")
      .join(ma, Seq("cutoff", "di"), "left")
      .select(col("cutoff"), col("di"), col("actual"),
        coalesce(col("fc_naive"), lit(0L)).as("fc_naive"),
        coalesce(col("ma_sum"), lit(0L)).as("ma_sum"),
        coalesce(col("ma_n"), lit(1L)).as("ma_n"))
    scored.groupBy("cutoff")
      .agg(count(lit(1)).as("n_days"),
        round(sum(abs(col("actual") - col("fc_naive"))).cast("double") /
          count(lit(1)), 6).as("mae_seasonal_naive"),
        round(sum(abs(col("actual") * col("ma_n") - col("ma_sum"))
          .cast("double") / col("ma_n")).cast("double") /
          count(lit(1)), 6).as("mae_moving_avg"))
      .orderBy("cutoff")
  }

  val q201Oracle: String =
    """WITH daily AS (SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
      |    count(*) AS n FROM events GROUP BY 1),
      |idx AS (SELECT datediff('day', (SELECT min(day) FROM daily), day)
      |    AS di, n FROM daily),
      |grid AS (SELECT c.cutoff, c.cutoff + h.h AS di
      |  FROM (VALUES (14), (21)) c(cutoff)
      |  CROSS JOIN (VALUES (1),(2),(3),(4),(5),(6),(7)) h(h)),
      |actual AS (SELECT g.cutoff, g.di, i.n AS actual
      |  FROM grid g JOIN idx i ON g.di = i.di),
      |naive AS (SELECT di + 7 AS di, n AS fc_naive FROM idx),
      |ma AS (SELECT a.cutoff, a.di, sum(t.n) AS ma_sum,
      |    count(*) AS ma_n
      |  FROM actual a JOIN idx t
      |    ON t.di >= a.di - 7 AND t.di < a.di AND t.di <= a.cutoff
      |  GROUP BY 1, 2),
      |scored AS (SELECT a.cutoff, a.di, a.actual,
      |    coalesce(nv.fc_naive, 0) AS fc_naive,
      |    coalesce(ma.ma_sum, 0) AS ma_sum,
      |    coalesce(ma.ma_n, 1) AS ma_n
      |  FROM actual a
      |  LEFT JOIN naive nv ON a.di = nv.di
      |  LEFT JOIN ma ON a.cutoff = ma.cutoff AND a.di = ma.di)
      |SELECT cutoff, CAST(count(*) AS BIGINT) AS n_days,
      |  round(CAST(sum(abs(actual - fc_naive)) AS DOUBLE) / count(*), 6)
      |    AS mae_seasonal_naive,
      |  round(CAST(sum(CAST(abs(actual * ma_n - ma_sum) AS DOUBLE)
      |    / ma_n) AS DOUBLE) / count(*), 6) AS mae_moving_avg
      |FROM scored
      |GROUP BY cutoff
      |ORDER BY cutoff""".stripMargin

  /** Fano factor / burstiness per event type (q249): F = Var/Mean of
    * the daily count series — F ≈ 1 is Poisson arrivals, F ≫ 1 is
    * bursty traffic (bot storms, batch backfills), F < 1 regular
    * (schedulers). The dispersion triage an ingest pipeline runs
    * before trusting per-day rate alarms. Exact: per-(type, day)
    * counts in one map-side pass, then per-type moments
    * (D, Σx, Σx²) with Σx² as exact DECIMAL, and F/mean as one
    * identically-stated double expression rounded to 6 dp. The daily
    * frame is calendar-bounded (q221 class).
    */
  def q249FanoFactor(s: SparkSession, dir: String): DataFrame = {
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val daily = events(s, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("x"))
    daily.groupBy("event_type")
      .agg(count(lit(1)).as("d"), sum("x").as("sx"),
        sum(dec(col("x")) * dec(col("x"))).as("sxx"))
      .select(col("event_type"), col("d"), col("sx"),
        round(col("sx").cast("double") / col("d").cast("double"), 6)
          .as("mean_daily"),
        round(((col("d").cast("double") * col("sxx").cast("double") -
            col("sx").cast("double") * col("sx").cast("double")) /
          (col("d").cast("double") * (col("d").cast("double") - 1.0))) /
          (col("sx").cast("double") / col("d").cast("double")), 6)
          .as("fano"))
      .orderBy("event_type")
  }

  val q249Oracle: String =
    """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
      |  count(*) AS x FROM events GROUP BY 1, 2),
      |m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS d,
      |  CAST(sum(x) AS BIGINT) AS sx,
      |  sum(CAST(x AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0))) AS sxx
      | FROM daily GROUP BY 1)
      |SELECT event_type, d, sx,
      |  round(CAST(sx AS DOUBLE) / d, 6) AS mean_daily,
      |  round(((CAST(d AS DOUBLE) * CAST(sxx AS DOUBLE)
      |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
      |    / (CAST(d AS DOUBLE) * (CAST(d AS DOUBLE) - 1.0)))
      |    / (CAST(sx AS DOUBLE) / d), 6) AS fano
      |FROM m ORDER BY event_type""".stripMargin

  def gates: Seq[graft.Gate] = Seq(
    gate("q249_fano_factor", q249FanoFactor, q249Oracle),
    gate("q143_retention_cohorts", q143RetentionCohorts, q143Oracle),
    gate("q201_backtest_forecast", q201BacktestForecast, q201Oracle),
    gate("q192_kaplan_meier", q192KaplanMeier, q192Oracle),
    gate("q274_log_rank", q274LogRank, q274Oracle),
    gate("q144_last_touch", q144LastTouch, q144Oracle),
    gate("q114_gap_fill", q114GapFill, q114Oracle),
    gate("q117_rolling_active", q117RollingActive, q117Oracle),
    gate("q49_asof_join", q49AsofJoin, q49Oracle),
    gate("q50_approx_distinct", q50ApproxDistinct, q50Oracle),
    gate("q292_bottomk_sketch", q292BottomkSketch, q292Oracle),
    gate("q120_approx_pct", q120ApproxPctWitness, q120Oracle),
    gate("q122_markov_transitions", q122MarkovTransitions, q122Oracle),
    gate("q126_scd2", q126Scd2, q126Oracle),
    gate("q132_funnel_conversion", q132FunnelConversion, q132Oracle),
    gate("q137_arrival_gaps", q137ArrivalGaps, q137Oracle),
    gate("q65_percentiles", q65Percentiles, q65Oracle),
    gate("q75_band_join", q75BandJoin, q75Oracle),
    gate("q82_daily_deltas", q82DailyDeltas, q82Oracle),
    gate("q92_cogroup_funnel", q92CogroupFunnel, q92Oracle)
  )
}
