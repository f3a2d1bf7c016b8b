// Copyright (c) 2026 graft contributors
// SPDX-License-Identifier: Apache-2.0

package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables._

/** Data-profiling operator ([EXT]): per-column null counts, exact
  * distinct cardinality, and min/max — the ANALYZE/data-quality sweep
  * a pipeline runs before trusting a new 100 TB drop.
  *
  * Scale shape: ONE scan of the table computes every column's stats in
  * a single aggregation (Catalyst plans the multi-countDistinct via
  * Expand — the table is read once, not once per column), then the
  * wide single row unpivots driver-side into the (column, stats)
  * report. Profiling N columns never costs N scans.
  */
object Profiling extends graft.Gates {

  private val profiled = Seq("o_orderkey", "o_orderpriority", "o_orderstatus")

  def q83ColumnProfile(s: SparkSession, dir: String): DataFrame = {
    val aggs = profiled.flatMap { c =>
      Seq(
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}_nulls"),
        countDistinct(col(c)).as(s"${c}_distinct"),
        min(col(c)).cast("string").as(s"${c}_min"),
        max(col(c)).cast("string").as(s"${c}_max"))
    } :+ count(lit(1)).as("n_rows")
    val wide = orders(s, dir).agg(aggs.head, aggs.tail: _*)
    val stackExpr = profiled.map(c =>
      s"'$c', ${c}_nulls, ${c}_distinct, ${c}_min, ${c}_max")
      .mkString(s"stack(${profiled.size}, ", ", ", ")")
    wide.select(col("n_rows"),
        expr(s"$stackExpr as (col_name, n_nulls, n_distinct, min_v, max_v)"))
      .select(col("col_name"), col("n_rows"), col("n_nulls"),
        col("n_distinct"), col("min_v"), col("max_v"))
      .orderBy("col_name")
  }

  val q83Oracle: String = profiled.map(c =>
    s"""SELECT '$c' AS col_name, count(*) AS n_rows,
       | count(*) - count($c) AS n_nulls,
       | count(DISTINCT $c) AS n_distinct,
       | CAST(min($c) AS VARCHAR) AS min_v,
       | CAST(max($c) AS VARCHAR) AS max_v
       |FROM orders""".stripMargin)
    .mkString("", "\nUNION ALL\n", "\nORDER BY col_name")

  /** Moment statistics (count / mean / stddev / min / max) per
    * event_type — the numeric half of the profiling sweep (q83 covers
    * nulls/cardinality). The point is HOW the moments are computed:
    * `stddev_samp` is a sum of squares whose accumulation order
    * differs across engines and partitionings (the sub-ulp trap that
    * bit round 1), so the sums run in DECIMAL — values quantized to
    * 6 dp, Σv and Σv² as exact integer arithmetic — and only the final
    * mean/variance formula is IEEE double math on identical exact
    * inputs. Both engines (and any partition count) produce
    * bit-identical doubles.
    *
    * Scale: one scan, one map-side-combinable aggregate keyed on
    * event_type; decimal partials are (16-byte, 16-byte, long) per
    * group per task — the same wire cost as the naive double sums.
    */
  def q106StatsProfile(s: SparkSession, dir: String): DataFrame = {
    val v = round(col("value"), 6).cast("decimal(18,6)")
    events(s, dir)
      .select(col("event_type"), v.as("v"))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n"),
        sum(col("v")).cast("double").as("s"),
        sum(col("v") * col("v")).cast("double").as("sq"),
        min(col("v")).cast("double").as("min_v"),
        max(col("v")).cast("double").as("max_v"))
      .select(
        col("event_type"),
        col("n"),
        round(col("s") / col("n"), 4).as("mean_v"),
        round(sqrt((col("sq") - col("s") * col("s") / col("n"))
          / (col("n") - 1)), 4).as("stddev_v"),
        col("min_v"), col("max_v"))
      .orderBy("event_type")
  }

  val q106Oracle: String =
    """WITH v AS (SELECT event_type,
      |  CAST(round(value, 6) AS DECIMAL(18,6)) AS v FROM events),
      |agg AS (SELECT event_type, count(*) AS n,
      |  CAST(sum(v) AS DOUBLE) AS s,
      |  CAST(sum(v*v) AS DOUBLE) AS sq,
      |  CAST(min(v) AS DOUBLE) AS min_v,
      |  CAST(max(v) AS DOUBLE) AS max_v
      | FROM v GROUP BY event_type)
      |SELECT event_type, CAST(n AS BIGINT) AS n,
      | round(s / n, 4) AS mean_v,
      | round(sqrt((sq - s*s/n) / (n-1)), 4) AS stddev_v,
      | min_v, max_v
      |FROM agg ORDER BY event_type""".stripMargin

  /** Data-quality expectation checks (the Delta Live Tables
    * `EXPECT` / Great-Expectations shape): a rule registry evaluated
    * in ONE scan of the table, reported as (rule, rows, violations,
    * violation fraction). The pipeline-gate usage is "fail the run
    * when violation_frac exceeds budget"; the report keeps every rule
    * visible so budgets can be tuned without re-scanning.
    *
    * NULL predicate results count as violations (a rule that cannot
    * evaluate did not pass — Delta's constraint semantics).
    */
  def expectations(df: DataFrame, rules: Seq[(String, org.apache.spark.sql.Column)])
      : DataFrame = {
    val aggs = rules.map { case (name, cond) =>
      sum(when(coalesce(cond, lit(false)), 0L).otherwise(1L)).as(s"v_$name")
    } :+ count(lit(1)).as("n_rows")
    val wide = df.agg(aggs.head, aggs.tail: _*)
    val stackExpr = rules.map { case (name, _) => s"'$name', v_$name" }
      .mkString(s"stack(${rules.size}, ", ", ", ")")
    wide.select(col("n_rows"), expr(s"$stackExpr as (rule, n_violations)"))
      .select(col("rule"), col("n_rows"), col("n_violations"),
        round(col("n_violations").cast("double") / col("n_rows"), 4)
          .as("violation_frac"))
      .orderBy("rule")
  }

  /** The expectation sweep as a gate, over `orders`: two rules that
    * hold and two that are genuinely violated by this data (a price
    * cap and a date window), so both report paths are load-bearing.
    */
  def q111Expectations(s: SparkSession, dir: String): DataFrame =
    expectations(orders(s, dir), Seq(
      "date_in_window" ->
        (col("o_orderdate") >= to_timestamp(lit("1995-01-01")) &&
          col("o_orderdate") < to_timestamp(lit("2000-01-01"))),
      "price_below_cap" -> (col("o_totalprice") <= 450000.0),
      "price_positive" -> (col("o_totalprice") > 0.0),
      "status_known" -> col("o_orderstatus").isin("O", "F", "P")))

  val q111Oracle: String = {
    val rules = Seq(
      "date_in_window" ->
        "(o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '2000-01-01')",
      "price_below_cap" -> "(o_totalprice <= 450000.0)",
      "price_positive" -> "(o_totalprice > 0.0)",
      "status_known" -> "(o_orderstatus IN ('O','F','P'))")
    rules.map { case (name, cond) =>
      s"""SELECT '$name' AS rule, count(*) AS n_rows,
         | CAST(sum(CASE WHEN coalesce($cond, false) THEN 0 ELSE 1 END)
         |   AS BIGINT) AS n_violations,
         | round(CAST(sum(CASE WHEN coalesce($cond, false) THEN 0 ELSE 1 END)
         |   AS DOUBLE) / count(*), 4) AS violation_frac
         |FROM orders""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY rule")
  }

  /** Fixed-width value histogram per event type — the distribution
    * report behind data-drift monitors and equi-width histogram
    * statistics. Bucket = min(⌊value/64⌋, 7), so the top bucket is
    * open-ended; counts plus a per-bucket mass column. One scan, one
    * map-side-combinable aggregate keyed on (type, bucket) — 40 groups
    * regardless of table size. The mass sums values quantized to
    * DECIMAL(18,2) (their storage precision) so the totals are
    * order-independent across engines and partitionings.
    */
  val HistBucketWidth = 64.0
  val HistTopBucket = 7

  def q129ValueHistogram(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .groupBy(col("event_type"),
        least(floor(col("value") / HistBucketWidth), lit(HistTopBucket))
          .cast("long").as("bucket"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("value").cast("decimal(18,2)")), 2)
          .cast("decimal(18,2)").cast("double").as("total"))
      .orderBy("event_type", "bucket")

  val q129Oracle: String =
    s"""SELECT event_type,
      | least(CAST(floor(value / $HistBucketWidth) AS BIGINT),
      |   $HistTopBucket) AS bucket,
      | count(*) AS n,
      | CAST(CAST(round(sum(CAST(value AS DECIMAL(18,2))), 2)
      |   AS DECIMAL(18,2)) AS DOUBLE) AS total
      |FROM events GROUP BY event_type, bucket
      |ORDER BY event_type, bucket""".stripMargin

  /** Count-min-sketch frequency estimates gated the witness way
    * (completing the sketch family: HLL q50, Greenwald-Khanna q120,
    * Misra-Gries q112): the CMS estimate is seeded-hash-deterministic
    * but implementation-specific, so the gate emits the exact counts
    * plus the two claims a CMS must satisfy — estimates never
    * UNDER-count (one-sided error), and overshoot stays within ε·N.
    * The sketch is Spark's built-in (`DataFrameStatFunctions
    * .countMinSketch`), merged tree-wise from per-partition sketches —
    * CMS counters are additive, so the merge is order-independent and
    * the booleans are stable.
    */
  def q136CmsWitness(s: SparkSession, dir: String): DataFrame = {
    import scala.jdk.CollectionConverters._
    // NULL keys never enter the sketch (countMinSketch skips them),
    // so the exact side must exclude them too — otherwise the witness
    // compares a null group against an estimate that can't exist
    val ev = events(s, dir).filter(col("event_type").isNotNull)
    val eps = 0.001
    val sketch = ev.stat.countMinSketch(col("event_type"),
      eps = eps, confidence = 0.99, seed = 42)
    val exact = ev.groupBy("event_type").agg(count(lit(1)).as("exact_n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1)
    val total = exact.map(_._2).sum
    val rows = exact.map { case (t, n) =>
      val est = sketch.estimateCount(t)
      org.apache.spark.sql.Row(t, n, est >= n, est <= n + (eps * total).toLong)
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("event_type",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("exact_n",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("never_undercounts",
        org.apache.spark.sql.types.BooleanType),
      org.apache.spark.sql.types.StructField("within_eps",
        org.apache.spark.sql.types.BooleanType)))
    s.createDataFrame(rows.toList.asJava, schema).orderBy("event_type")
  }

  val q136Oracle: String =
    """SELECT event_type, count(*) AS exact_n,
      | TRUE AS never_undercounts, TRUE AS within_eps
      |FROM events GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** Group-median imputation: a deterministic mask nulls out ~8% of
    * values (event_id % 13), and the imputer fills each null with its
    * event_type's median computed over the SURVIVING values — the
    * standard numeric-imputation step before model training. Output:
    * per type, how many rows were imputed and with what value. The
    * median is the exact interpolated percentile (the q65 parity
    * pattern); at unbounded group cardinality the sketch variant
    * (q120) is the scale path.
    */
  def q139MedianImpute(s: SparkSession, dir: String): DataFrame = {
    val masked = events(s, dir)
      .select(col("event_id"), col("event_type"),
        when(col("event_id") % 13 === 0, lit(null)).otherwise(col("value"))
          .as("v"))
    val med = masked.groupBy("event_type")
      .agg(expr("percentile(v, 0.5)").as("m"))
    masked.filter(col("v").isNull)
      .join(broadcast(med), "event_type")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_imputed"),
        round(min("m"), 4).cast("decimal(18,4)").cast("double")
          .as("imputed_value"))
      .orderBy("event_type")
  }

  val q139Oracle: String =
    """WITH masked AS (SELECT event_id, event_type,
      |  CASE WHEN event_id % 13 = 0 THEN NULL ELSE value END AS v
      | FROM events),
      |med AS (SELECT event_type, quantile_cont(v, 0.5) AS m FROM masked
      |        GROUP BY event_type)
      |SELECT m2.event_type, count(*) AS n_imputed,
      | CAST(CAST(round(min(med.m), 4) AS DECIMAL(18,4)) AS DOUBLE)
      |   AS imputed_value
      |FROM masked m2 JOIN med ON m2.event_type = med.event_type
      |WHERE m2.v IS NULL
      |GROUP BY m2.event_type ORDER BY m2.event_type""".stripMargin

  /** Trailing-window z-score anomaly flags over daily order revenue.
    * Parity discipline: windowed SUMS run over exact integer cents
    * (assoc-order-free — DuckDB aggregates sliding frames through a
    * segment tree, Spark iterates them; float sums would disagree in
    * the last ulp), and the z-test then runs identical IEEE double
    * expressions on those exact integers in both engines. The sqrt
    * never happens: |x−μ| > 2σ is tested as (x−μ)² > 4σ² with
    * σ² = (s2 − s1²/n)/(n−1) inlined.
    */
  def q140ZscoreAnomalies(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = orders(s, dir)
      .groupBy(col("o_orderdate").as("day"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long"))
        .as("cents"))
    val w = Window.orderBy("day").rowsBetween(-7, -1)
    // the window is a ~2400-row daily aggregate, the q82/q97 class —
    // calendar-bounded, never data-sized (see q73 for the contrast)
    // cents² exceeds int64 once daily revenue passes ~$30M (observed
    // at sf0.1) — the squared terms and their sum carry exactly in
    // decimal128 (HUGEINT on the oracle side), still association-free
    val z = daily
      .withColumn("s1", sum("cents").over(w))
      .withColumn("s2",
        sum(col("cents").cast("decimal(20,0)")
          * col("cents").cast("decimal(20,0)")).over(w))
      .withColumn("nw", count(lit(1)).over(w))
    val xd = col("cents").cast("double")
    val s1d = col("s1").cast("double")
    val s2d = col("s2").cast("double")
    val nwd = col("nw").cast("double")
    val varTerm = s2d - s1d * s1d / nwd
    z.select(col("day").cast("string").as("day"),
        (xd / 100.0).as("total"),
        (col("nw") >= 7 && varTerm > 0 &&
          (xd - s1d / nwd) * (xd - s1d / nwd)
            > lit(4.0) * varTerm / (nwd - 1)).as("anomaly"))
      .orderBy("day")
  }

  val q140Oracle: String =
    """WITH d AS (SELECT o_orderdate AS day,
      |  sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
      | FROM orders GROUP BY 1),
      |z AS (SELECT day, cents,
      |  sum(cents) OVER w AS s1,
      |  sum(CAST(cents AS HUGEINT) * CAST(cents AS HUGEINT)) OVER w AS s2,
      |  count(*) OVER w AS nw
      | FROM d WINDOW w AS (ORDER BY day ROWS BETWEEN 7 PRECEDING
      |   AND 1 PRECEDING))
      |SELECT CAST(day AS VARCHAR) AS day,
      | CAST(cents AS DOUBLE) / 100.0 AS total,
      | CASE WHEN nw >= 7
      |   AND CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
      |       / CAST(nw AS DOUBLE) > 0
      |   AND (CAST(cents AS DOUBLE) - CAST(s1 AS DOUBLE) / CAST(nw AS DOUBLE))
      |     * (CAST(cents AS DOUBLE) - CAST(s1 AS DOUBLE) / CAST(nw AS DOUBLE))
      |     > 4.0 * (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
      |       / CAST(nw AS DOUBLE)) / (CAST(nw AS DOUBLE) - 1)
      |   THEN TRUE ELSE FALSE END AS anomaly
      |FROM z ORDER BY day""".stripMargin

  /** Pairwise Pearson correlation matrix over lineitem's numeric
    * columns — the feature-correlation sweep a pipeline runs before
    * model training. ONE scan computes every moment (all 15 sums in a
    * single map-side-combinable aggregate; profiling K columns never
    * costs K scans — the q83 rule), then the 6 pairs unfold from the
    * single wide row.
    *
    * Cross-engine exactness (the q140 discipline): each column is
    * quantized to integer units at read (cents, basis points), all
    * sums and cross-products accumulate in decimal128/HUGEINT —
    * price² sums pass int64 at sf0.1 — so every aggregate is an
    * order-independent exact integer; the final correlation is one
    * identical IEEE expression over those exact values, rounded to
    * 6 dp.
    */
  def q149CorrMatrix(s: SparkSession, dir: String): DataFrame = {
    val units = Seq(
      "qty" -> round(col("l_quantity") * 100).cast("long"),
      "price" -> round(col("l_extendedprice") * 100).cast("long"),
      "disc" -> round(col("l_discount") * 10000).cast("long"),
      "tax" -> round(col("l_tax") * 10000).cast("long"))
    val keys = units.map(_._1)
    val pairs = for {
      i <- keys.indices; j <- keys.indices if i < j
    } yield (keys(i), keys(j))
    val withUnits = lineitem(s, dir).select(
      units.map { case (k, e) => e.as(k) }: _*)
    // products multiply in PRIMITIVE long (each factor is a per-row
    // unit count ≤ ~1e9, so the product is ≤ ~1e18 < Long.Max — a
    // per-ROW invariant independent of table size), and only the SUM
    // accumulates in decimal, which is what actually overflows with
    // row count. One decimal add per row instead of a BigDecimal
    // multiply + add: same exact integers, ~10× cheaper per row.
    val prod = (a: String, b: String) =>
      (col(a) * col(b)).cast("decimal(20,0)")
    val aggCols =
      (count(lit(1)).as("n") +:
        keys.map(k => sum(col(k)).as(s"s_$k"))) ++
      keys.map(k => sum(prod(k, k)).as(s"ss_$k")) ++
      pairs.map { case (a, b) => sum(prod(a, b)).as(s"sp_${a}_$b") }
    val wide = withUnits.agg(aggCols.head, aggCols.tail: _*)
    // unfold the single wide row via one explode — a union of 6
    // selects would re-run the scan + aggregate per pair
    val corrStructs = pairs.map { case (a, b) =>
      val nD = col("n").cast("double")
      val sx = col(s"s_$a").cast("double"); val sy = col(s"s_$b").cast("double")
      val sxx = col(s"ss_$a").cast("double"); val syy = col(s"ss_$b").cast("double")
      val sxy = col(s"sp_${a}_$b").cast("double")
      struct(lit(a).as("col_x"), lit(b).as("col_y"),
        round((nD * sxy - sx * sy) /
          (sqrt(nD * sxx - sx * sx) * sqrt(nD * syy - sy * sy)), 6)
          .as("corr"))
    }
    wide.select(explode(array(corrStructs: _*)).as("r"))
      .select(col("r.col_x"), col("r.col_y"), col("r.corr"))
      .orderBy("col_x", "col_y")
  }

  val q149Oracle: String = {
    val units = Seq(
      "qty" -> "CAST(round(l_quantity * 100) AS BIGINT)",
      "price" -> "CAST(round(l_extendedprice * 100) AS BIGINT)",
      "disc" -> "CAST(round(l_discount * 10000) AS BIGINT)",
      "tax" -> "CAST(round(l_tax * 10000) AS BIGINT)")
    val keys = units.map(_._1)
    val pairs = for {
      i <- keys.indices; j <- keys.indices if i < j
    } yield (keys(i), keys(j))
    val unitSel = units.map { case (k, e) => s"$e AS $k" }.mkString(", ")
    val sums =
      (Seq("count(*) AS n") ++
        keys.map(k => s"sum($k) AS s_$k") ++
        keys.map(k => s"sum(CAST($k AS HUGEINT) * CAST($k AS HUGEINT)) AS ss_$k") ++
        pairs.map { case (a, b) =>
          s"sum(CAST($a AS HUGEINT) * CAST($b AS HUGEINT)) AS sp_${a}_$b" })
        .mkString(", ")
    val rows = pairs.map { case (a, b) =>
      s"""SELECT '$a' AS col_x, '$b' AS col_y,
        | round((CAST(n AS DOUBLE) * CAST(sp_${a}_$b AS DOUBLE)
        |   - CAST(s_$a AS DOUBLE) * CAST(s_$b AS DOUBLE))
        |  / (sqrt(CAST(n AS DOUBLE) * CAST(ss_$a AS DOUBLE)
        |      - CAST(s_$a AS DOUBLE) * CAST(s_$a AS DOUBLE))
        |    * sqrt(CAST(n AS DOUBLE) * CAST(ss_$b AS DOUBLE)
        |      - CAST(s_$b AS DOUBLE) * CAST(s_$b AS DOUBLE))), 6)
        |   AS corr FROM wide""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH u AS (SELECT $unitSel FROM lineitem),
      |wide AS (SELECT $sums FROM u)
      |$rows
      |ORDER BY col_x, col_y""".stripMargin
  }

  /** Benford leading-digit audit (q178) — the forensic-accounting /
    * synthetic-data smoke test: natural multi-magnitude amounts
    * follow P(d) = log10(1+1/d); fabricated or truncated data
    * doesn't. The nine expected rates are LITERALS (6 dp) in both
    * engines — no runtime log10, so the q134 no-transcendentals rule
    * holds — and the digit extraction is integer/string arithmetic.
    * One map-side-combinable 9-group aggregate; the total re-derives
    * from the cells (never a second scan), broadcast back.
    */
  def q178BenfordAudit(s: SparkSession, dir: String): DataFrame = {
    val benford = Seq(0.301030, 0.176091, 0.124939, 0.096910, 0.079181,
      0.066947, 0.057992, 0.051153, 0.045757)
    val rates = s.createDataFrame(
      benford.zipWithIndex.map { case (r, i) => (i + 1, r) })
      .toDF("digit", "expected_rate")
    val cells = orders(s, dir)
      .select(substring(floor(col("o_totalprice")).cast("long")
        .cast("string"), 1, 1).cast("int").as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("n"))
    val total = cells.agg(sum("n").as("n_total"))
    cells.join(broadcast(rates), Seq("digit"), "right")
      .crossJoin(broadcast(total))
      .select(col("digit"), coalesce(col("n"), lit(0L)).as("n"),
        round(coalesce(col("n"), lit(0L)) / col("n_total"), 6)
          .cast("decimal(18,6)").cast("double").as("observed_rate"),
        col("expected_rate"))
      .orderBy("digit")
  }

  val q178Oracle: String =
    """WITH cells AS (SELECT CAST(substr(CAST(CAST(floor(o_totalprice)
      |    AS BIGINT) AS VARCHAR), 1, 1) AS INTEGER) AS digit,
      |  count(*) AS n
      | FROM orders GROUP BY 1),
      |tot AS (SELECT sum(n) AS n_total FROM cells),
      |exp AS (SELECT * FROM (VALUES (1, 0.301030), (2, 0.176091),
      |  (3, 0.124939), (4, 0.096910), (5, 0.079181), (6, 0.066947),
      |  (7, 0.057992), (8, 0.051153), (9, 0.045757))
      |  AS t(digit, expected_rate))
      |SELECT exp.digit, CAST(coalesce(cells.n, 0) AS BIGINT) AS n,
      |  CAST(CAST(round(coalesce(cells.n, 0) / n_total, 6)
      |    AS DECIMAL(18,6)) AS DOUBLE) AS observed_rate,
      |  CAST(expected_rate AS DOUBLE) AS expected_rate
      |FROM exp LEFT JOIN cells ON exp.digit = cells.digit, tot
      |ORDER BY exp.digit""".stripMargin

  /** Vector-corpus health report ([EXT]): the pre-flight sweep a
    * 100 TB embedding drop gets before any similarity/dedup pipeline
    * trusts it — per-corpus counts of every defect class the
    * adversarial battery injects (null vectors, NaN/Inf components,
    * zero vectors, heterogeneous dimensionality) plus norm statistics
    * over the healthy subset. This is the OBSERVABILITY side of the
    * corrupt-embedding contract: the operators read degenerate inputs
    * as "no similarity evidence" (see VectorExpressions), and this
    * query tells the operator how much of the corpus that policy is
    * touching.
    *
    * Scale shape: ONE scan; per-row flags fold into a single
    * aggregation (no shuffle beyond the 1-row final combine); norms
    * quantize to DECIMAL(28,9) before summing so the average is
    * order-independent cross-engine. The report unpivots driver-side
    * from the one wide row.
    */
  def q185VectorHealth(s: SparkSession, dir: String): DataFrame = {
    val v = col("embedding").cast("array<double>")
    val isInf = (x: org.apache.spark.sql.Column) =>
      !isnan(x) && abs(x) > lit(1.7e308)
    val hasNan = exists(v, x => isnan(x))
    val hasInf = exists(v, x => isInf(x))
    // null COMPONENTS are their own class: isnan(NULL) is false in
    // both engines, and Spark's primitive array readers surface a null
    // slot as 0.0 — a vector carrying them must count as defective,
    // not slip into the norm statistics as if the slot were zero
    val hasNullComp = exists(v, x => x.isNull)
    val isZero = array_max(transform(v, x => abs(x))) === 0.0
    val healthy = v.isNotNull && !hasNan && !hasInf &&
      coalesce(!hasNullComp, lit(false))
    val norm = sqrt(graft.functions.VectorExpressions.dot_product(v, v))
    // norms past 1e18 are their own defect class (n_norm_huge): finite
    // but unusable at any embedding scale, and past DECIMAL(28,9)'s
    // integral range — float inputs can push a 64-dim norm to ~2.7e39
    val wide = embeddings(s, dir).select(
      v.as("v"),
      v.isNull.as("is_null"),
      coalesce(hasNan, lit(false)).as("has_nan"),
      coalesce(hasInf, lit(false)).as("has_inf"),
      coalesce(hasNullComp, lit(false)).as("has_null_comp"),
      coalesce(isZero, lit(false)).as("is_zero"),
      (healthy && norm > lit(1e18)).as("norm_huge"),
      when(v.isNotNull, size(v)).as("dim"),
      when(healthy && norm <= lit(1e18),
        round(norm, 9).cast("decimal(28,9)")).as("norm_q"))
      .agg(
        count(lit(1)).as("n_total"),
        sum(when(col("is_null"), 1L).otherwise(0L)).as("n_null"),
        sum(when(col("has_nan"), 1L).otherwise(0L)).as("n_nan"),
        sum(when(col("has_inf"), 1L).otherwise(0L)).as("n_inf"),
        sum(when(col("has_null_comp"), 1L).otherwise(0L)).as("n_null_comp"),
        sum(when(col("is_zero"), 1L).otherwise(0L)).as("n_zero"),
        sum(when(col("norm_huge"), 1L).otherwise(0L)).as("n_huge"),
        countDistinct(col("dim")).as("n_dims"),
        min(col("dim")).as("dim_min"),
        max(col("dim")).as("dim_max"),
        count(col("norm_q")).as("n_healthy"),
        min(col("norm_q")).cast("double").as("norm_min"),
        max(col("norm_q")).cast("double").as("norm_max"),
        sum(col("norm_q")).cast("double").as("norm_sum"))
    wide.select(expr(
      """stack(13,
        | 'n_total', cast(n_total as double),
        | 'n_null_embedding', cast(n_null as double),
        | 'n_with_nan', cast(n_nan as double),
        | 'n_with_inf', cast(n_inf as double),
        | 'n_with_null_component', cast(n_null_comp as double),
        | 'n_zero_vector', cast(n_zero as double),
        | 'n_norm_huge', cast(n_huge as double),
        | 'n_distinct_dims', cast(n_dims as double),
        | 'dim_min', cast(dim_min as double),
        | 'dim_max', cast(dim_max as double),
        | 'norm_min', norm_min,
        | 'norm_max', norm_max,
        | 'norm_avg', case when n_healthy > 0
        |   then round(norm_sum / n_healthy, 6) else null end
        |) as (metric, value)""".stripMargin))
      .orderBy("metric")
  }

  val q185Oracle: String =
    """WITH e AS (SELECT
      |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      | FROM embeddings),
      |f AS (SELECT v,
      |  v IS NULL AS is_null,
      |  coalesce(list_bool_or(list_transform(v, x -> isnan(x))), FALSE)
      |    AS has_nan,
      |  coalesce(list_bool_or(list_transform(v,
      |    x -> NOT isnan(x) AND abs(x) > 1.7e308)), FALSE) AS has_inf,
      |  coalesce(list_bool_or(list_transform(v, x -> x IS NULL)), FALSE)
      |    AS has_null_comp,
      |  coalesce(list_max(list_transform(v, x -> abs(x))) = 0, FALSE)
      |    AS is_zero,
      |  CASE WHEN v IS NOT NULL THEN len(v) END AS dim
      | FROM e),
      |g AS (SELECT *,
      |  NOT is_null AND NOT has_nan AND NOT has_inf AND NOT has_null_comp
      |    AND sqrt(list_inner_product(v, v)) > 1e18 AS norm_huge,
      |  CASE WHEN NOT is_null AND NOT has_nan AND NOT has_inf
      |    AND NOT has_null_comp
      |    AND sqrt(list_inner_product(v, v)) <= 1e18
      |   THEN CAST(round(sqrt(list_inner_product(v, v)), 9)
      |     AS DECIMAL(28,9)) END AS norm_q
      | FROM f),
      |w AS (SELECT count(*) AS n_total,
      |  sum(CASE WHEN is_null THEN 1 ELSE 0 END) AS n_null,
      |  sum(CASE WHEN has_nan THEN 1 ELSE 0 END) AS n_nan,
      |  sum(CASE WHEN has_inf THEN 1 ELSE 0 END) AS n_inf,
      |  sum(CASE WHEN has_null_comp THEN 1 ELSE 0 END) AS n_null_comp,
      |  sum(CASE WHEN is_zero THEN 1 ELSE 0 END) AS n_zero,
      |  sum(CASE WHEN norm_huge THEN 1 ELSE 0 END) AS n_huge,
      |  count(DISTINCT dim) AS n_dims,
      |  min(dim) AS dim_min, max(dim) AS dim_max,
      |  count(norm_q) AS n_healthy,
      |  CAST(min(norm_q) AS DOUBLE) AS norm_min,
      |  CAST(max(norm_q) AS DOUBLE) AS norm_max,
      |  CAST(sum(norm_q) AS DOUBLE) AS norm_sum FROM g)
      |SELECT metric, value FROM (
      | SELECT 'n_total' AS metric, CAST(n_total AS DOUBLE) AS value FROM w
      | UNION ALL SELECT 'n_null_embedding', CAST(n_null AS DOUBLE) FROM w
      | UNION ALL SELECT 'n_with_nan', CAST(n_nan AS DOUBLE) FROM w
      | UNION ALL SELECT 'n_with_inf', CAST(n_inf AS DOUBLE) FROM w
      | UNION ALL SELECT 'n_with_null_component', CAST(n_null_comp AS DOUBLE) FROM w
      | UNION ALL SELECT 'n_zero_vector', CAST(n_zero AS DOUBLE) FROM w
      | UNION ALL SELECT 'n_norm_huge', CAST(n_huge AS DOUBLE) FROM w
      | UNION ALL SELECT 'n_distinct_dims', CAST(n_dims AS DOUBLE) FROM w
      | UNION ALL SELECT 'dim_min', CAST(dim_min AS DOUBLE) FROM w
      | UNION ALL SELECT 'dim_max', CAST(dim_max AS DOUBLE) FROM w
      | UNION ALL SELECT 'norm_min', norm_min FROM w
      | UNION ALL SELECT 'norm_max', norm_max FROM w
      | UNION ALL SELECT 'norm_avg', CASE WHEN n_healthy > 0
      |    THEN round(norm_sum / n_healthy, 6) END FROM w)
      |ORDER BY metric""".stripMargin

  def gates: Seq[graft.Gate] = Seq(
    gate("q185_vector_health", q185VectorHealth, q185Oracle),
    gate("q178_benford_audit", q178BenfordAudit, q178Oracle),
    gate("q149_corr_matrix", q149CorrMatrix, q149Oracle),
    gate("q136_cms_witness", q136CmsWitness, q136Oracle),
    gate("q139_median_impute", q139MedianImpute, q139Oracle),
    gate("q140_zscore_anomalies", q140ZscoreAnomalies, q140Oracle),
    gate("q83_column_profile", q83ColumnProfile, q83Oracle),
    gate("q106_stats_profile", q106StatsProfile, q106Oracle),
    gate("q111_expectations", q111Expectations, q111Oracle),
    gate("q129_value_histogram", q129ValueHistogram, q129Oracle)
  )
}
