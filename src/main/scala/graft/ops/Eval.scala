// Copyright (c) 2026 graft contributors
// SPDX-License-Identifier: Apache-2.0

package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables._

/** Model-evaluation operators ([EXT], SURVEY.md §2.10): the metrics a
  * training pipeline computes over scored predictions at corpus scale,
  * where "collect the scores and call sklearn" stopped being an option
  * somewhere around the first terabyte.
  */
object Eval extends graft.Gates {

  /** Exact ROC-AUC via the Mann-Whitney U statistic — the rank-sum
    * identity AUC = U/(P·N), with midrank tie handling, computed
    * WITHOUT a global sort of the scores: scores are integers, so the
    * table aggregates to one row per distinct score (bounded ≤ ~13k
    * rows at any table size) and the rank arithmetic runs over that
    * metadata-sized frame. The scan does one map-side-combinable
    * aggregate; nothing row-scale crosses a single partition — the
    * q82/q103 "global window only over a tiny aggregate" rule.
    *
    * The "model" is a deterministic integer score (a Knuth
    * multiplicative hash of event_id, boosted for actual purchases so
    * the metric is discriminative, AUC ≈ 0.87) and the label is
    * is-purchase — every term integer-exact cross-engine, with 2U kept
    * as an integer (midranks contribute halves) and ONE float division
    * at the end, the q140/q159 fixed-point rule.
    */
  /** Confusion-matrix metric suite (q268) — the thresholded-classifier
    * readout next to q165's AUC and q241's PR-AUC (which integrate
    * over all thresholds): precision / recall / F1, balanced
    * accuracy, Matthews correlation, and Cohen's kappa at ONE
    * operating point. MCC and kappa are the two that survive class
    * imbalance — accuracy and even F1 read healthy on a 99:1 corpus
    * while MCC collapses to ~0 — so a training-data eval report wants
    * them side by side. Same deterministic score/label rule as q165
    * (Knuth-hash score, purchase label), prediction = score ≥ 5000.
    * One scan to four integer cells; every metric is a couple of
    * IEEE ops on exact counts with FIXED parenthesization, rounded to
    * 6 dp — no aggregation-order hazard anywhere.
    */
  def q268ConfusionMetrics(s: SparkSession, dir: String): DataFrame = {
    val scored = events(s, dir).select(
      ((pmod(col("event_id") * lit(2654435761L), lit(9973L)) +
        when(col("event_type") === "purchase", lit(3000L))
          .otherwise(lit(0L))) >= 5000L).as("pred"),
      (col("event_type") === "purchase").as("label"))
    val m = scored.agg(
      sum(when(col("pred") && col("label"), 1L).otherwise(0L)).as("tp"),
      sum(when(col("pred") && !col("label"), 1L).otherwise(0L)).as("fp"),
      sum(when(!col("pred") && col("label"), 1L).otherwise(0L)).as("fn"),
      sum(when(!col("pred") && !col("label"), 1L).otherwise(0L)).as("tn"))
    def d(name: String): Column = col(name).cast("double")
    val n = d("tp") + d("fp") + d("fn") + d("tn")
    val prec = d("tp") / (d("tp") + d("fp"))
    val rec = d("tp") / (d("tp") + d("fn"))
    val tnr = d("tn") / (d("tn") + d("fp"))
    val mcc = (d("tp") * d("tn") - d("fp") * d("fn")) /
      sqrt((d("tp") + d("fp")) * (d("tp") + d("fn")) *
        (d("tn") + d("fp")) * (d("tn") + d("fn")))
    val po = (d("tp") + d("tn")) / n
    val pe = ((d("tp") + d("fp")) * (d("tp") + d("fn")) +
      (d("fn") + d("tn")) * (d("fp") + d("tn"))) / (n * n)
    m.select(col("tp"), col("fp"), col("fn"), col("tn"),
      round(prec, 6).as("precision"), round(rec, 6).as("recall"),
      round(lit(2.0) * prec * rec / (prec + rec), 6).as("f1"),
      round((rec + tnr) / lit(2.0), 6).as("balanced_accuracy"),
      round(mcc, 6).as("mcc"),
      round((po - pe) / (lit(1.0) - pe), 6).as("kappa"))
  }

  val q268Oracle: String =
    """WITH scored AS (SELECT
      |  ((event_id * 2654435761) % 9973 +
      |    CASE WHEN event_type = 'purchase' THEN 3000 ELSE 0 END)
      |    >= 5000 AS pred,
      |  event_type = 'purchase' AS label
      | FROM events),
      |m AS (SELECT
      |  CAST(sum(CASE WHEN pred AND label THEN 1 ELSE 0 END) AS BIGINT)
      |    AS tp,
      |  CAST(sum(CASE WHEN pred AND NOT label THEN 1 ELSE 0 END)
      |    AS BIGINT) AS fp,
      |  CAST(sum(CASE WHEN NOT pred AND label THEN 1 ELSE 0 END)
      |    AS BIGINT) AS fn,
      |  CAST(sum(CASE WHEN NOT pred AND NOT label THEN 1 ELSE 0 END)
      |    AS BIGINT) AS tn
      | FROM scored),
      |e AS (SELECT tp, fp, fn, tn,
      |  CAST(tp AS DOUBLE) + CAST(fp AS DOUBLE) + CAST(fn AS DOUBLE)
      |    + CAST(tn AS DOUBLE) AS n,
      |  CAST(tp AS DOUBLE) / (CAST(tp AS DOUBLE) + CAST(fp AS DOUBLE))
      |    AS prec,
      |  CAST(tp AS DOUBLE) / (CAST(tp AS DOUBLE) + CAST(fn AS DOUBLE))
      |    AS rec,
      |  CAST(tn AS DOUBLE) / (CAST(tn AS DOUBLE) + CAST(fp AS DOUBLE))
      |    AS tnr
      | FROM m)
      |SELECT tp, fp, fn, tn,
      |  round(prec, 6) AS precision,
      |  round(rec, 6) AS recall,
      |  round(2.0 * prec * rec / (prec + rec), 6) AS f1,
      |  round((rec + tnr) / 2.0, 6) AS balanced_accuracy,
      |  round((CAST(tp AS DOUBLE) * CAST(tn AS DOUBLE)
      |      - CAST(fp AS DOUBLE) * CAST(fn AS DOUBLE))
      |    / sqrt((CAST(tp AS DOUBLE) + CAST(fp AS DOUBLE))
      |      * (CAST(tp AS DOUBLE) + CAST(fn AS DOUBLE))
      |      * (CAST(tn AS DOUBLE) + CAST(fp AS DOUBLE))
      |      * (CAST(tn AS DOUBLE) + CAST(fn AS DOUBLE))), 6) AS mcc,
      |  round(((CAST(tp AS DOUBLE) + CAST(tn AS DOUBLE)) / n
      |    - ((CAST(tp AS DOUBLE) + CAST(fp AS DOUBLE))
      |        * (CAST(tp AS DOUBLE) + CAST(fn AS DOUBLE))
      |      + (CAST(fn AS DOUBLE) + CAST(tn AS DOUBLE))
      |        * (CAST(fp AS DOUBLE) + CAST(tn AS DOUBLE))) / (n * n))
      |  / (1.0 - ((CAST(tp AS DOUBLE) + CAST(fp AS DOUBLE))
      |        * (CAST(tp AS DOUBLE) + CAST(fn AS DOUBLE))
      |      + (CAST(fn AS DOUBLE) + CAST(tn AS DOUBLE))
      |        * (CAST(fp AS DOUBLE) + CAST(tn AS DOUBLE))) / (n * n)),
      |    6) AS kappa
      |FROM e""".stripMargin

  def q165Auc(s: SparkSession, dir: String): DataFrame = {
    val scored = events(s, dir).select(
      (pmod(col("event_id") * lit(2654435761L), lit(9973L)) +
        when(col("event_type") === "purchase", lit(3000L))
          .otherwise(lit(0L))).as("score"),
      when(col("event_type") === "purchase", 1L).otherwise(0L).as("pos"))
    val cells = scored.groupBy("score")
      .agg(sum("pos").as("p"), (count(lit(1)) - sum("pos")).as("n"))
    // negatives strictly below each score; the frame is ≤13k rows (the
    // score domain), so the unpartitioned window is metadata-sized
    val below = Window.orderBy("score")
      .rowsBetween(Window.unboundedPreceding, -1)
    cells
      .withColumn("cumneg", coalesce(sum("n").over(below), lit(0L)))
      .agg(
        sum("p").as("n_pos"), sum("n").as("n_neg"),
        sum(col("p") * (lit(2L) * col("cumneg") + col("n"))).as("u2"))
      .select(col("n_pos"), col("n_neg"), col("u2"),
        round(col("u2") / (lit(2.0) * col("n_pos") * col("n_neg")), 6)
          .cast("decimal(18,6)").cast("double").as("auc"))
  }

  val q165Oracle: String =
    """WITH scored AS (SELECT
      |  (event_id * 2654435761) % 9973 +
      |    CASE WHEN event_type = 'purchase' THEN 3000 ELSE 0 END AS score,
      |  CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
      | FROM events),
      |cells AS (SELECT score, CAST(sum(pos) AS BIGINT) AS p,
      |   CAST(count(*) - sum(pos) AS BIGINT) AS n
      | FROM scored GROUP BY score),
      |r AS (SELECT p, n, coalesce(sum(n) OVER (ORDER BY score
      |   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumneg
      | FROM cells)
      |SELECT CAST(sum(p) AS BIGINT) AS n_pos,
      |  CAST(sum(n) AS BIGINT) AS n_neg,
      |  CAST(sum(p * (2 * cumneg + n)) AS BIGINT) AS u2,
      |  CAST(CAST(round(sum(p * (2 * cumneg + n)) /
      |      (2.0 * sum(p) * sum(n)), 6) AS DECIMAL(18,6)) AS DOUBLE) AS auc
      |FROM r""".stripMargin

  /** Average precision / PR-AUC (q241) — the ranking metric that,
    * unlike ROC-AUC (q165), stays informative under heavy class
    * imbalance (the retrieval/filtering regime). Step-interpolated AP
    * over DISTINCT-SCORE blocks (sklearn's convention, well-defined
    * under ties): AP = Σ_b (R_b − R_{b−1})·P_b with blocks in
    * descending score order. Same scale shape as q165: the score
    * domain is bounded (≤ ~13k values), so cumulative TP/total run as
    * a window over the metadata-sized cells frame, never the corpus;
    * per-block terms round to 6 dp and DECIMAL-quantize before the
    * order-independent sum.
    */
  def q241PrAuc(s: SparkSession, dir: String): DataFrame = {
    val scored = events(s, dir).select(
      (pmod(col("event_id") * lit(2654435761L), lit(9973L)) +
        when(col("event_type") === "purchase", lit(3000L))
          .otherwise(lit(0L))).as("score"),
      when(col("event_type") === "purchase", 1L).otherwise(0L).as("pos"))
    // the cells frame feeds both the total and the cumulative pass —
    // cut the plan so the corpus scans once (the q151 device)
    val cells = scored.groupBy("score")
      .agg(sum("pos").as("tp"), count(lit(1)).as("t"))
      .localCheckpoint()
    val w = Window.orderBy(col("score").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val totRow = cells.agg(sum("tp")).head()
    // empty input: no positives; the final agg still emits its one
    // all-null row, it just must not NPE here
    val tot = if (totRow.isNullAt(0)) 0L else totRow.getLong(0)
    cells
      .withColumn("cum_tp", sum("tp").over(w))
      .withColumn("cum_t", sum("t").over(w))
      .filter(col("tp") > 0) // zero-recall-gain blocks contribute 0
      .select((col("tp").cast("double") / lit(tot.toDouble) *
        (col("cum_tp").cast("double") / col("cum_t").cast("double")))
        .as("term"))
      .agg(sum(round(col("term"), 6).cast("decimal(18,6)")).as("ap_d"),
        count(lit(1)).as("n_blocks"))
      .select(lit(tot).as("n_pos"), col("n_blocks"),
        col("ap_d").cast("double").as("ap"))
  }

  val q241Oracle: String =
    """WITH scored AS (SELECT
      |  (event_id * 2654435761) % 9973 +
      |    CASE WHEN event_type = 'purchase' THEN 3000 ELSE 0 END AS score,
      |  CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
      | FROM events),
      |cells AS (SELECT score, CAST(sum(pos) AS BIGINT) AS tp,
      |  CAST(count(*) AS BIGINT) AS t
      | FROM scored GROUP BY score),
      |tot AS (SELECT CAST(sum(tp) AS BIGINT) AS n_pos FROM cells),
      |c AS (SELECT tp,
      |  CAST(sum(tp) OVER (ORDER BY score DESC
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |    AS cum_tp,
      |  CAST(sum(t) OVER (ORDER BY score DESC
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |    AS cum_t
      | FROM cells)
      |SELECT n_pos, count(*) AS n_blocks,
      |  CAST(sum(CAST(round(CAST(tp AS DOUBLE) / n_pos
      |      * (CAST(cum_tp AS DOUBLE) / cum_t), 6)
      |    AS DECIMAL(18,6))) AS DOUBLE) AS ap
      |FROM c CROSS JOIN tot
      |WHERE tp > 0
      |GROUP BY n_pos""".stripMargin

  /** Distributed-sketch MERGEABILITY, the property that makes
    * approximate distinct counting work on a cluster at all: per-day
    * partial HLL sketches (DataSketches `hll_sketch_agg`) union into
    * per-type estimates (`hll_union_agg`) that must equal the
    * single-pass sketch over the same stream to within sketch noise —
    * if partial+merge drifted materially from direct, every two-stage
    * rollup in the warehouse would be suspect. (Bit-equality does NOT
    * hold: the union's target representation differs from the direct
    * sketch's once inputs cross the sparse→dense HLL mode boundary —
    * observed at sf0.1 — so the witness is a 2% consistency bound,
    * ~the sketch's own error at lgK 12, not `===`.) Emits the exact
    * count, a 5%-error witness for the merged estimate (q50's
    * bounded-error pattern), and the merge-consistency witness. At
    * 100 TB the daily partials are what you'd persist (a few KB per
    * (type, day)); re-aggregating them to any coarser grain costs
    * metadata, not a rescan.
    */
  def q166SketchMerge(s: SparkSession, dir: String): DataFrame = {
    val e = events(s, dir)
    val daily = e.withColumn("day", to_date(col("ts")))
      .groupBy("event_type", "day")
      .agg(hll_sketch_agg(col("user_id")).as("sk"))
    val merged = daily.groupBy("event_type")
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("merged_est"))
    val direct = e.groupBy("event_type")
      .agg(hll_sketch_estimate(hll_sketch_agg(col("user_id")))
          .as("direct_est"),
        countDistinct(col("user_id")).as("exact_users"))
    merged.join(direct, "event_type")
      .select(col("event_type"), col("exact_users"),
        (abs(col("merged_est") - col("exact_users")) /
          col("exact_users") <= 0.05).as("merged_within_5pct"),
        (abs(col("merged_est") - col("direct_est")) <=
          col("direct_est") * 0.02).as("merge_consistent"))
      .orderBy("event_type")
  }

  val q166Oracle: String =
    """SELECT event_type, count(DISTINCT user_id) AS exact_users,
      | TRUE AS merged_within_5pct, TRUE AS merge_consistent
      |FROM events GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** CUPED variance reduction for an A/B readout (Deng, Xu, Kohavi,
    * Walker, "Improving the sensitivity of online controlled
    * experiments by utilizing pre-experiment data", WSDM 2013): the
    * adjusted metric ŷ = y − θ(x − x̄) with θ = cov(x,y)/var(x), where
    * x is each user's PRE-period spend and y the in-experiment spend.
    * The workhorse of experimentation platforms — same mean, much
    * tighter variance, so experiments need fewer users.
    *
    * Scale shape: one pass builds per-user (x, y) with conditional
    * sums (user-keyed, map-side-combinable); θ's pooled moments are
    * ONE further aggregate over users (decimal128 cross-products, the
    * q140 overflow rule); per-variant rollups re-aggregate the same
    * user frame. Nothing joins row-scale; the variant report is
    * 2 rows. Exactness: every moment is an exact integer; the
    * θ/adjusted-mean arithmetic is one identical IEEE expression tree
    * in both engines, rounded once at 6 dp.
    */
  def q179Cuped(s: SparkSession, dir: String): DataFrame = {
    val e = events(s, dir).filter(col("event_type") === "purchase")
      .select(col("user_id"),
        dayofmonth(col("ts")).as("dom"),
        round(col("value") * 100).cast("long").as("cents"))
    val perUser = e.groupBy("user_id").agg(
      sum(when(col("dom") < 15, col("cents")).otherwise(0L)).as("x"),
      sum(when(col("dom") >= 15, col("cents")).otherwise(0L)).as("y"))
      .withColumn("variant", pmod(col("user_id"), lit(2)).cast("int"))
      .localCheckpoint() // feeds the pooled moments AND both rollups
    val dec = (c: Column) => c.cast("decimal(20,0)")
    val pooled = perUser.agg(
      count(lit(1)).as("n"),
      sum("x").as("sx"), sum("y").as("sy"),
      sum(dec(col("x")) * dec(col("y"))).cast("decimal(38,0)")
        .cast("double").as("sxy"),
      sum(dec(col("x")) * dec(col("x"))).cast("decimal(38,0)")
        .cast("double").as("sxx"))
    val byVariant = perUser.groupBy("variant").agg(
      count(lit(1)).as("n_users"),
      sum("x").as("vx"), sum("y").as("vy"))
    val theta = (col("sxy") - col("sx").cast("double") * col("sy") / col("n")) /
      (col("sxx") - col("sx").cast("double") * col("sx") / col("n"))
    byVariant.crossJoin(broadcast(pooled))
      .select(col("variant"), col("n_users"),
        round(col("vy").cast("double") / col("n_users") / 100.0, 6)
          .cast("decimal(18,6)").cast("double").as("mean_y"),
        round((col("vy").cast("double") / col("n_users") -
          theta * (col("vx").cast("double") / col("n_users") -
            col("sx").cast("double") / col("n"))) / 100.0, 6)
          .cast("decimal(18,6)").cast("double").as("adj_mean_y"),
        round(theta, 6).cast("decimal(18,6)").cast("double").as("theta"))
      .orderBy("variant")
  }

  val q179Oracle: String =
    """WITH e AS (SELECT user_id, CAST(day(ts) AS INTEGER) AS dom,
      |  CAST(round(value * 100) AS BIGINT) AS cents
      | FROM events WHERE event_type = 'purchase'),
      |pu AS (SELECT user_id,
      |  CAST(sum(CASE WHEN dom < 15 THEN cents ELSE 0 END) AS BIGINT)
      |    AS x,
      |  CAST(sum(CASE WHEN dom >= 15 THEN cents ELSE 0 END) AS BIGINT)
      |    AS y,
      |  CAST(user_id % 2 AS INTEGER) AS variant
      | FROM e GROUP BY user_id),
      |pooled AS (SELECT count(*) AS n,
      |  CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
      |  CAST(sum(CAST(x AS HUGEINT) * y) AS DOUBLE) AS sxy,
      |  CAST(sum(CAST(x AS HUGEINT) * x) AS DOUBLE) AS sxx
      | FROM pu),
      |bv AS (SELECT variant, count(*) AS n_users,
      |  CAST(sum(x) AS BIGINT) AS vx, CAST(sum(y) AS BIGINT) AS vy
      | FROM pu GROUP BY variant)
      |SELECT variant, n_users,
      | CAST(CAST(round(CAST(vy AS DOUBLE) / n_users / 100.0, 6)
      |   AS DECIMAL(18,6)) AS DOUBLE) AS mean_y,
      | CAST(CAST(round((CAST(vy AS DOUBLE) / n_users -
      |   ((sxy - CAST(sx AS DOUBLE) * sy / n) /
      |    (sxx - CAST(sx AS DOUBLE) * sx / n)) *
      |   (CAST(vx AS DOUBLE) / n_users - CAST(sx AS DOUBLE) / n))
      |   / 100.0, 6) AS DECIMAL(18,6)) AS DOUBLE) AS adj_mean_y,
      | CAST(CAST(round((sxy - CAST(sx AS DOUBLE) * sy / n) /
      |   (sxx - CAST(sx AS DOUBLE) * sx / n), 6)
      |   AS DECIMAL(18,6)) AS DOUBLE) AS theta
      |FROM bv, pooled
      |ORDER BY variant""".stripMargin

  /** Expected calibration error (Naeini et al. AAAI 2015; Guo et al.
    * ICML 2017 formulation): scores bin into 10 equal-width buckets;
    * per bin, confidence = mean predicted probability and accuracy =
    * positive rate; ECE = Σ_b (n_b/N)·|acc_b − conf_b|. Scores/labels
    * are the q165 derivation rescaled to a probability, so the eval
    * family (discrimination = AUC, calibration = ECE) reads one
    * consistent synthetic model.
    *
    * Output: the 10 per-bin reliability rows (the reliability-diagram
    * table) plus a NULL-bin summary row carrying the scalar ECE.
    *
    * Scale shape: one groupBy over a 10-value key with map-side
    * combine — confidences sum as exact integer numerators (the
    * q165/q140 fixed-point rule) and the bin→ECE reduction runs over
    * 10 rows; nothing here is corpus-sized after the first combine.
    */
  def q190Calibration(s: SparkSession, dir: String): DataFrame = {
    // p̂ = (hash + 3000·label) / 12973 ∈ (0,1): integer numerator so
    // every mean is a rational with a fixed denominator
    val denom = 12973.0
    val scored = events(s, dir).select(
      (pmod(col("event_id") * lit(2654435761L), lit(9973L)) +
        when(col("event_type") === "purchase", lit(3000L))
          .otherwise(lit(0L))).as("num"),
      when(col("event_type") === "purchase", 1L).otherwise(0L).as("pos"))
    val bins = scored
      .groupBy(floor(col("num") * 10 / lit(12973L)).cast("int").as("bin"))
      .agg(count(lit(1)).as("n"), sum("num").as("sum_num"),
        sum("pos").as("sum_pos"))
      .select(col("bin"), col("n"),
        round(col("sum_num") / (lit(denom) * col("n")), 6).as("conf"),
        round(col("sum_pos") / col("n").cast("double"), 6).as("acc"))
      .withColumn("gap", round(abs(col("acc") - col("conf")), 6))
    // decimal-exact weighted sum over ≤10 bin rows → addition order
    // can't move the 6-dp result
    val ece = bins.agg(
      (sum(col("gap").cast("decimal(18,6)") * col("n")).cast("double") /
        sum(col("n"))).as("raw"),
      sum(col("n")).as("ntot"))
      .select(lit(null).cast("int").as("bin"), col("ntot").as("n"),
        lit(null).cast("double").as("conf"),
        lit(null).cast("double").as("acc"),
        round(col("raw"), 6).as("gap"))
    bins.unionByName(ece).orderBy(col("bin").asc_nulls_last)
  }

  val q190Oracle: String =
    """WITH scored AS (SELECT
      |  (event_id * 2654435761) % 9973 +
      |    CASE WHEN event_type = 'purchase' THEN 3000 ELSE 0 END AS num,
      |  CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
      | FROM events),
      |bins AS (SELECT CAST(floor(num * 10 / 12973) AS INT) AS bin,
      |   count(*) AS n,
      |   round(sum(num) / (12973.0 * count(*)), 6) AS conf,
      |   round(CAST(sum(pos) AS DOUBLE) / count(*), 6) AS acc
      | FROM scored GROUP BY 1),
      |withgap AS (SELECT bin, n, conf, acc,
      |   round(abs(acc - conf), 6) AS gap FROM bins),
      |ece AS (SELECT CAST(NULL AS INT) AS bin,
      |   CAST(sum(n) AS BIGINT) AS n,
      |   CAST(NULL AS DOUBLE) AS conf, CAST(NULL AS DOUBLE) AS acc,
      |   round(CAST(sum(CAST(gap AS DECIMAL(18,6)) * n) AS DOUBLE)
      |     / sum(n), 6) AS gap
      | FROM withgap)
      |SELECT bin, n, conf, acc, gap FROM withgap
      |UNION ALL
      |SELECT bin, n, conf, acc, gap FROM ece
      |ORDER BY bin ASC NULLS LAST""".stripMargin

  /** Decile lift & cumulative-gains table — the third member of the
    * eval family (q165 discrimination, q190 calibration, this one
    * targeting efficiency: "how much better than random is the top
    * 10/20/…% of the ranking?"). Deciles are VALUE-TIED: each distinct
    * score maps to the decile of its cumulative position in the
    * score-domain histogram, so rows with equal scores land together
    * and no corpus-wide row-number sort ever runs — the window
    * operates on the bounded score domain (≤13k cells), the q165
    * pattern. All ratios are exact integer products divided once and
    * rounded, no libm.
    */
  def q194LiftGains(s: SparkSession, dir: String): DataFrame = {
    val scored = events(s, dir).select(
      (pmod(col("event_id") * lit(2654435761L), lit(9973L)) +
        when(col("event_type") === "purchase", lit(3000L))
          .otherwise(lit(0L))).as("num"),
      when(col("event_type") === "purchase", 1L).otherwise(0L).as("pos"))
    val cells = scored.groupBy("num")
      .agg(count(lit(1)).as("cnt"), sum("pos").as("p"))
    val tot = broadcast(cells.agg(sum("cnt").as("nn"), sum("p").as("pp")))
    // bounded frame: the score domain, not the corpus
    val before = Window.orderBy(col("num").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val deciles = cells.crossJoin(tot)
      .withColumn("cumb", coalesce(sum("cnt").over(before), lit(0L)))
      .withColumn("decile", expr("(10 * cumb) DIV nn"))
      .groupBy("decile")
      .agg(sum("cnt").as("n"), sum("p").as("n_pos"),
        max("nn").as("nn"), max("pp").as("pp"))
    val cum = Window.orderBy("decile")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    deciles
      .withColumn("cum_pos", sum("n_pos").over(cum))
      .select(col("decile").cast("int").as("decile"), col("n"),
        col("n_pos"),
        round(col("n_pos").cast("double") / col("n"), 6).as("resp_rate"),
        round((col("n_pos") * col("nn")).cast("double") /
          (col("n") * col("pp")), 6).as("lift"),
        round(col("cum_pos").cast("double") / col("pp"), 6).as("cum_gain"))
      .orderBy("decile")
  }

  val q194Oracle: String =
    """WITH scored AS (SELECT
      |  (event_id * 2654435761) % 9973 +
      |    CASE WHEN event_type = 'purchase' THEN 3000 ELSE 0 END AS num,
      |  CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
      | FROM events),
      |cells AS (SELECT num, count(*) AS cnt, sum(pos) AS p
      | FROM scored GROUP BY num),
      |tot AS (SELECT sum(cnt) AS nn, sum(p) AS pp FROM cells),
      |dec AS (SELECT (10 * coalesce(sum(cnt) OVER (ORDER BY num DESC
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)) // nn
      |    AS decile, cnt, p, nn, pp
      | FROM cells CROSS JOIN tot),
      |byd AS (SELECT decile, sum(cnt) AS n, sum(p) AS n_pos,
      |   max(nn) AS nn, max(pp) AS pp
      | FROM dec GROUP BY decile)
      |SELECT CAST(decile AS INT) AS decile, CAST(n AS BIGINT) AS n,
      | CAST(n_pos AS BIGINT) AS n_pos,
      | round(CAST(n_pos AS DOUBLE) / n, 6) AS resp_rate,
      | round(CAST(n_pos * nn AS DOUBLE) / (n * pp), 6) AS lift,
      | round(CAST(sum(n_pos) OVER (ORDER BY decile
      |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
      |   / pp, 6) AS cum_gain
      |FROM byd
      |ORDER BY decile""".stripMargin

  /** Propensity-score subclassification ATT (Rosenbaum & Rubin,
    * Biometrika 1983; cell-based propensity = the nonparametric
    * estimate) — the OTHER causal-adjustment shape next to q179's
    * CUPED: treated = customers who ever placed a 1-URGENT order,
    * outcome = lifetime spend, strata = nation. Each stratum's
    * propensity is its empirical treatment rate; ATT is the
    * treated-weighted mean of within-stratum outcome differences over
    * the COMMON-SUPPORT strata (both arms present). No greedy 1:1
    * matching — subclassification is the estimator that actually
    * distributes: two aggregations and a ≤|strata|-row reduction,
    * no per-row sequential dependence anywhere.
    *
    * Determinism: outcomes stay integer cents; per-stratum diffs round
    * to 6 dp then combine decimal-exactly (the q190 pattern), so the
    * treated-weighted sum is order-independent.
    */
  def q196PropensityAtt(s: SparkSession, dir: String): DataFrame = {
    val spend = orders(s, dir).groupBy(col("o_custkey"))
      .agg(sum(round(col("o_totalprice") * 100, 0).cast("long"))
        .as("cents"))
    val urgent = orders(s, dir)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_custkey").as("u_custkey")).distinct()
    val base = customer(s, dir)
      .join(spend, col("c_custkey") === col("o_custkey"), "left")
      .join(urgent, col("c_custkey") === col("u_custkey"), "left")
      .select(col("c_nationkey").as("nation"),
        coalesce(col("cents"), lit(0L)).as("cents"),
        when(col("u_custkey").isNotNull, 1L).otherwise(0L).as("t"))
    val cells = base.groupBy("nation").agg(
      sum("t").as("n_t"), sum(lit(1L) - col("t")).as("n_c"),
      sum(when(col("t") === 1, col("cents")).otherwise(0L)).as("s_t"),
      sum(when(col("t") === 0, col("cents")).otherwise(0L)).as("s_c"))
    val support = cells.filter(col("n_t") > 0 && col("n_c") > 0)
      .select(col("nation"), col("n_t"), col("n_c"),
        round(col("n_t").cast("double") / (col("n_t") + col("n_c")), 6)
          .as("p_score"),
        round(col("s_t").cast("double") / (lit(100.0) * col("n_t")) -
          col("s_c").cast("double") / (lit(100.0) * col("n_c")), 6)
          .as("diff"))
    val att = support.agg(
      sum("n_t").as("n_t"), sum("n_c").as("n_c"),
      (sum(col("diff").cast("decimal(18,6)") * col("n_t")).cast("double")
        / sum("n_t")).as("raw"))
      .select(lit(null).cast("int").as("nation"), col("n_t"), col("n_c"),
        lit(null).cast("double").as("p_score"),
        round(col("raw"), 6).as("diff"))
    support.select(col("nation").cast("int").as("nation"), col("n_t"),
        col("n_c"), col("p_score"), col("diff"))
      .unionByName(att)
      .orderBy(col("nation").asc_nulls_last)
  }

  val q196Oracle: String =
    """WITH spend AS (SELECT o_custkey,
      |    sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
      |  FROM orders GROUP BY 1),
      |urgent AS (SELECT DISTINCT o_custkey FROM orders
      |  WHERE o_orderpriority = '1-URGENT'),
      |base AS (SELECT c.c_nationkey AS nation,
      |    coalesce(s.cents, 0) AS cents,
      |    CASE WHEN u.o_custkey IS NOT NULL THEN 1 ELSE 0 END AS t
      |  FROM customer c
      |  LEFT JOIN spend s ON c.c_custkey = s.o_custkey
      |  LEFT JOIN urgent u ON c.c_custkey = u.o_custkey),
      |cells AS (SELECT nation, sum(t) AS n_t, sum(1 - t) AS n_c,
      |    sum(CASE WHEN t = 1 THEN cents ELSE 0 END) AS s_t,
      |    sum(CASE WHEN t = 0 THEN cents ELSE 0 END) AS s_c
      |  FROM base GROUP BY 1),
      |support AS (SELECT nation, n_t, n_c,
      |    round(CAST(n_t AS DOUBLE) / (n_t + n_c), 6) AS p_score,
      |    round(CAST(s_t AS DOUBLE) / (100.0 * n_t) -
      |          CAST(s_c AS DOUBLE) / (100.0 * n_c), 6) AS diff
      |  FROM cells WHERE n_t > 0 AND n_c > 0)
      |SELECT CAST(nation AS INT) AS nation, CAST(n_t AS BIGINT) AS n_t,
      |  CAST(n_c AS BIGINT) AS n_c, p_score, diff
      |FROM support
      |UNION ALL
      |SELECT CAST(NULL AS INT), CAST(sum(n_t) AS BIGINT),
      |  CAST(sum(n_c) AS BIGINT), CAST(NULL AS DOUBLE),
      |  round(CAST(sum(CAST(diff AS DECIMAL(18,6)) * n_t) AS DOUBLE)
      |    / sum(n_t), 6)
      |FROM support
      |ORDER BY nation ASC NULLS LAST""".stripMargin

  /** Split-conformal prediction coverage (Vovk's conformal framework;
    * Lei et al. JASA 2018 split form) — the distribution-free
    * guarantee check: calibrate a nonconformity quantile on held-out
    * data, then verify the promised ≥1−α marginal coverage on a
    * disjoint test split. Fourth axis of the eval family (AUC / ECE /
    * lift / coverage), same synthetic model. Binary nonconformity is
    * s = 1−p̂ for the true class, kept as an INTEGER in [0, 12973]
    * (p̂'s numerator), so the calibration quantile is an exact order
    * statistic read off the bounded score-domain histogram — no
    * corpus sort, no floating point anywhere until two final rounded
    * ratios. Splits are by event-id parity (disjoint, deterministic).
    *
    * Scale: two map-side-combinable histograms over the ≤2·12973-value
    * nonconformity domain + a broadcast scalar q̂; the test pass is
    * one aggregation with integer compares.
    */
  def q197ConformalCoverage(s: SparkSession, dir: String): DataFrame = {
    val alphaNum = 9 // 1-α = 9/10, kept rational
    val scored = events(s, dir).select(col("event_id"),
      (pmod(col("event_id") * lit(2654435761L), lit(9973L)) +
        when(col("event_type") === "purchase", lit(3000L))
          .otherwise(lit(0L))).as("num"),
      when(col("event_type") === "purchase", 1L).otherwise(0L).as("pos"))
    // integer nonconformity of the TRUE label: 12973 - num if y=1
    // (confident positives score low), num if y=0
    val withS = scored.withColumn("s",
      when(col("pos") === 1, lit(12973L) - col("num"))
        .otherwise(col("num")))
    val cal = withS.filter(pmod(col("event_id"), lit(2L)) === 0)
    val test = withS.filter(pmod(col("event_id"), lit(2L)) === 1)
    // exact ⌈(n+1)(1−α)⌉-th order statistic from the bounded
    // histogram: smallest s whose cumulative count reaches the rank
    val hist = cal.groupBy("s").agg(count(lit(1)).as("cnt"))
    val nCal = broadcast(cal.agg(count(lit(1)).as("n_cal")))
    val cum = Window.orderBy("s")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val qhat = broadcast(hist.crossJoin(nCal)
      .withColumn("cumc", sum("cnt").over(cum))
      .filter(col("cumc") >=
        expr(s"($alphaNum * (n_cal + 1) + 9) DIV 10"))
      .agg(min("s").as("qhat"), max("n_cal").as("n_cal")))
    test.crossJoin(qhat)
      .agg(count(lit(1)).as("n_test"), max("n_cal").as("n_cal"),
        max("qhat").as("qhat"),
        sum(when(col("s") <= col("qhat"), 1L).otherwise(0L))
          .as("covered"),
        sum(when(col("num") <= col("qhat"), 1L).otherwise(0L) +
          when(lit(12973L) - col("num") <= col("qhat"), 1L)
            .otherwise(0L)).as("set_sizes"))
      .select(col("n_cal"), col("n_test"), col("qhat"),
        round(col("covered").cast("double") / col("n_test"), 6)
          .as("coverage"),
        round(col("set_sizes").cast("double") / col("n_test"), 6)
          .as("avg_set_size"))
  }

  val q197Oracle: String =
    """WITH scored AS (SELECT event_id,
      |  (event_id * 2654435761) % 9973 +
      |    CASE WHEN event_type = 'purchase' THEN 3000 ELSE 0 END AS num,
      |  CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
      | FROM events),
      |ws AS (SELECT event_id, num,
      |  CASE WHEN pos = 1 THEN 12973 - num ELSE num END AS s
      | FROM scored),
      |cal AS (SELECT s FROM ws WHERE event_id % 2 = 0),
      |tst AS (SELECT num, s FROM ws WHERE event_id % 2 = 1),
      |n AS (SELECT count(*) AS n_cal FROM cal),
      |hist AS (SELECT s, count(*) AS cnt FROM cal GROUP BY s),
      |q AS (SELECT min(s) AS qhat FROM (
      |  SELECT s, sum(cnt) OVER (ORDER BY s ROWS BETWEEN UNBOUNDED
      |    PRECEDING AND CURRENT ROW) AS cumc FROM hist) h CROSS JOIN n
      |  WHERE cumc >= (9 * (n_cal + 1) + 9) // 10)
      |SELECT CAST(n.n_cal AS BIGINT) AS n_cal,
      |  CAST(count(*) AS BIGINT) AS n_test,
      |  CAST(q.qhat AS BIGINT) AS qhat,
      |  round(CAST(sum(CASE WHEN t.s <= q.qhat THEN 1 ELSE 0 END)
      |    AS DOUBLE) / count(*), 6) AS coverage,
      |  round(CAST(sum((CASE WHEN t.num <= q.qhat THEN 1 ELSE 0 END) +
      |    (CASE WHEN 12973 - t.num <= q.qhat THEN 1 ELSE 0 END))
      |    AS DOUBLE) / count(*), 6) AS avg_set_size
      |FROM tst t CROSS JOIN q CROSS JOIN n
      |GROUP BY n.n_cal, q.qhat""".stripMargin

  /** Closed-form OLS fit — per market segment, regress order total on
    * the customer's account balance (y = a + b·x), with slope,
    * intercept, and R² all derived from the normal equations over ONE
    * map-side-combinable moment aggregate (n, Σx, Σy, Σxy, Σx², Σy²).
    * Training a linear model this way is a single scan + a
    * segment-cardinality reduce at any corpus size — the distributed
    * replacement for "collect and call lstsq", and the estimator
    * family q149 (correlation) and q179 (CUPED θ) already bracket.
    *
    * Exactness (the q149 recipe): inputs quantized to integer cents,
    * cross-products summed in decimal128 (cents² sums overflow int64
    * past ~sf0.3), every output one identical IEEE tree over the
    * double-cast moments, rounded once at 6 dp. Intercept comes from
    * the moment form (Σy·Σx² − Σx·Σxy)/(n·Σx² − (Σx)²) rather than
    * through the rounded slope, so no error chains.
    */
  def q203OlsSegment(s: SparkSession, dir: String): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(20,0)")
    val joined = orders(s, dir).join(customer(s, dir),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment").as("segment"),
        round(col("c_acctbal") * 100).cast("long").as("x"),
        round(col("o_totalprice") * 100).cast("long").as("y"))
    val m = joined.groupBy("segment").agg(
      count(lit(1)).as("n"),
      sum("x").as("sx"), sum("y").as("sy"),
      sum(dec(col("x")) * dec(col("y"))).as("sxy"),
      sum(dec(col("x")) * dec(col("x"))).as("sxx"),
      sum(dec(col("y")) * dec(col("y"))).as("syy"))
    val nD = col("n").cast("double")
    val sx = col("sx").cast("double"); val sy = col("sy").cast("double")
    val sxy = col("sxy").cast("double"); val sxx = col("sxx").cast("double")
    val syy = col("syy").cast("double")
    val covn = nD * sxy - sx * sy
    val varx = nD * sxx - sx * sx
    val vary = nD * syy - sy * sy
    m.select(col("segment"), col("n"),
        round(covn / varx, 6).as("slope"),
        round((sy * sxx - sx * sxy) / varx, 6).as("intercept"),
        round(covn * covn / (varx * vary), 6).as("r2"))
      .orderBy("segment")
  }

  val q203Oracle: String = {
    val moments =
      """SELECT c_mktsegment AS segment, count(*) AS n,
        |    sum(x) AS sx, sum(y) AS sy,
        |    sum(CAST(x AS HUGEINT) * CAST(y AS HUGEINT)) AS sxy,
        |    sum(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS sxx,
        |    sum(CAST(y AS HUGEINT) * CAST(y AS HUGEINT)) AS syy
        |  FROM (SELECT c_mktsegment,
        |      CAST(round(c_acctbal * 100) AS BIGINT) AS x,
        |      CAST(round(o_totalprice * 100) AS BIGINT) AS y
        |    FROM orders JOIN customer ON o_custkey = c_custkey)
        |  GROUP BY 1""".stripMargin
    s"""WITH m AS ($moments)
      |SELECT segment, CAST(n AS BIGINT) AS n,
      |  round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
      |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      |    / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
      |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) AS slope,
      |  round((CAST(sy AS DOUBLE) * CAST(sxx AS DOUBLE)
      |      - CAST(sx AS DOUBLE) * CAST(sxy AS DOUBLE))
      |    / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
      |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) AS intercept,
      |  round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
      |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      |    * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
      |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      |    / ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
      |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
      |     * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
      |      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6) AS r2
      |FROM m
      |ORDER BY segment""".stripMargin
  }

  /** Decision-stump training — exact CART split search (Breiman et al.
    * 1984, ch.2) for the best single (feature, threshold) predicting
    * is-fulfilled from order month and a price band. The split domain
    * is the distinct (feature, value) HISTOGRAM — one map-side-
    * combinable pass reduces the corpus to ≤62 candidate rows, prefix
    * sums over that bounded frame price every left/right partition,
    * and the winner is an argmin — the "train a tree level in one
    * scan" primitive under every distributed GBDT (XGBoost/LightGBM
    * histogram mode does exactly this per node).
    *
    * Exactness: counts are integers; weighted Gini of a binary split
    * is (2·pL·(nL−pL))/(n·nL) + (2·pR·(nR−pR))/(n·nR) — every factor
    * an exact integer-in-double (< 2^53 through sf1), each division
    * correctly rounded, the two-term sum a fixed-order identical IEEE
    * tree in both engines, so the UNROUNDED doubles agree bitwise and
    * the argmin (struct-min tie-broken by feature, threshold) is
    * deterministic cross-engine. Rounding only in the projection.
    */
  def q204DecisionStump(s: SparkSession, dir: String): DataFrame = {
    val base = orders(s, dir).select(
      month(col("o_orderdate")).cast("long").as("mth"),
      floor(col("o_totalprice") / 10000).cast("long").as("priceb"),
      when(col("o_orderstatus") === "F", 1L).otherwise(0L).as("pos"))
    val stacked = base.select(lit("month").as("feature"),
        col("mth").as("v"), col("pos"))
      .unionByName(base.select(lit("price_10k").as("feature"),
        col("priceb").as("v"), col("pos")))
    val hist = stacked.groupBy("feature", "v")
      .agg(count(lit(1)).as("cnt"), sum("pos").as("p"))
    val pf = Window.partitionBy("feature").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = Window.partitionBy("feature")
    val cand = hist
      .withColumn("nl", sum("cnt").over(pf))
      .withColumn("pl", sum("p").over(pf))
      .withColumn("n", sum("cnt").over(tot))
      .withColumn("ptot", sum("p").over(tot))
      .filter(col("nl") < col("n")) // a full-left "split" is no split
      .select(col("feature"), col("v").as("threshold"),
        col("nl").as("n_left"), col("pl").as("pos_left"),
        (col("n") - col("nl")).as("n_right"),
        (col("ptot") - col("pl")).as("pos_right"),
        ((lit(2.0) * col("pl") * (col("nl") - col("pl")) /
          (col("n") * col("nl"))) +
         (lit(2.0) * (col("ptot") - col("pl")) *
          ((col("n") - col("nl")) - (col("ptot") - col("pl"))) /
          (col("n") * (col("n") - col("nl"))))).as("g"))
    cand
      .withColumn("best", min(struct(col("g"), col("feature"),
        col("threshold"))).over(Window.partitionBy()))
      .select(col("feature"), col("threshold"), col("n_left"),
        col("pos_left"), col("n_right"), col("pos_right"),
        round(col("g"), 6).as("gini"),
        (col("g") === col("best.g") &&
          col("feature") === col("best.feature") &&
          col("threshold") === col("best.threshold")).as("is_best"))
      .orderBy("feature", "threshold")
  }

  val q204Oracle: String =
    """WITH base AS (SELECT CAST(month(o_orderdate) AS BIGINT) AS mth,
      |    CAST(floor(o_totalprice / 10000) AS BIGINT) AS priceb,
      |    CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS pos
      |  FROM orders),
      |stacked AS (
      |  SELECT 'month' AS feature, mth AS v, pos FROM base
      |  UNION ALL
      |  SELECT 'price_10k' AS feature, priceb AS v, pos FROM base),
      |hist AS (SELECT feature, v, count(*) AS cnt, sum(pos) AS p
      |  FROM stacked GROUP BY 1, 2),
      |cand0 AS (SELECT feature, v,
      |    sum(cnt) OVER (PARTITION BY feature ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS nl,
      |    sum(p) OVER (PARTITION BY feature ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pl,
      |    sum(cnt) OVER (PARTITION BY feature) AS n,
      |    sum(p) OVER (PARTITION BY feature) AS ptot
      |  FROM hist),
      |cand AS (SELECT feature, v AS threshold, nl AS n_left,
      |    pl AS pos_left, n - nl AS n_right, ptot - pl AS pos_right,
      |    (2.0 * pl * (nl - pl) / (n * nl)) +
      |    (2.0 * (ptot - pl) * ((n - nl) - (ptot - pl)) /
      |      (n * (n - nl))) AS g
      |  FROM cand0 WHERE nl < n),
      |best AS (SELECT g, feature, threshold FROM cand
      |  ORDER BY g, feature, threshold LIMIT 1)
      |SELECT c.feature, c.threshold,
      |  CAST(c.n_left AS BIGINT) AS n_left,
      |  CAST(c.pos_left AS BIGINT) AS pos_left,
      |  CAST(c.n_right AS BIGINT) AS n_right,
      |  CAST(c.pos_right AS BIGINT) AS pos_right,
      |  round(c.g, 6) AS gini,
      |  (c.g = b.g AND c.feature = b.feature
      |    AND c.threshold = b.threshold) AS is_best
      |FROM cand c CROSS JOIN best b
      |ORDER BY c.feature, c.threshold""".stripMargin

  /** Isotonic calibration — the pool-adjacent-violators fit (Barlow et
    * al. 1972; the sklearn `IsotonicRegression` calibrator) over the
    * q165/q190 synthetic model, computed distributively via the minmax
    * closed form iso(i) = max_{j≤i} min_{k≥i} mean(y on [j,k]) (Best &
    * Chakravarti 1990, eq. 1.2) instead of the inherently sequential
    * PAV sweep. The corpus collapses to a ≤51-bucket reliability
    * histogram in one map-side-combinable pass; the closed form runs
    * as bounded self-joins over that frame (≤51³ rows of metadata), so
    * nothing sequential or corpus-sized exists at any scale — this is
    * how you calibrate on 100 TB of scores without collecting them.
    *
    * Exactness: interval means are int/int single divisions
    * (correctly rounded, identical both engines); min/max over those
    * doubles is order-free; rounding only in the projection. Output =
    * reliability table (n, positives, raw rate) + the isotonic fit,
    * whose monotonicity the gate hash witnesses.
    */
  def q205IsotonicCalibration(s: SparkSession, dir: String): DataFrame = {
    val scored = events(s, dir).select(
      ((pmod(col("event_id") * lit(2654435761L), lit(9973L)) +
        when(col("event_type") === "purchase", lit(3000L))
          .otherwise(lit(0L))).cast("long")).as("score"),
      when(col("event_type") === "purchase", 1L).otherwise(0L).as("pos"))
    val hist = scored.groupBy(expr("score div 256").as("b"))
      .agg(count(lit(1)).as("n"), sum("pos").as("p"))
    val ow = Window.orderBy("b")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val pr = hist
      .withColumn("cn", sum("n").over(ow))
      .withColumn("cp", sum("p").over(ow))
      .localCheckpoint() // 51 rows; its three self-join consumers
    val pairs = pr.select(col("b").as("jb"), col("cn").as("jcn"),
        col("cp").as("jcp"), col("n").as("jn"), col("p").as("jp"))
      .join(pr.select(col("b").as("kb"), col("cn").as("kcn"),
        col("cp").as("kcp")), col("jb") <= col("kb"))
      .select(col("jb"), col("kb"),
        ((col("kcp") - (col("jcp") - col("jp"))).cast("double") /
          (col("kcn") - (col("jcn") - col("jn")))).as("avg"))
    val mn = pr.select(col("b").as("ib"))
      .join(pairs, col("jb") <= col("ib") && col("kb") >= col("ib"))
      .groupBy(col("ib"), col("jb"))
      .agg(min("avg").as("m"))
    val iso = mn.groupBy(col("ib").as("b")).agg(max("m").as("iso"))
    hist.join(iso, Seq("b"))
      .select(col("b"), col("n"), col("p"),
        round(col("p").cast("double") / col("n"), 6).as("rate"),
        round(col("iso"), 6).as("iso"))
      .orderBy("b")
  }

  val q205Oracle: String =
    """WITH scored AS (SELECT (event_id * 2654435761) % 9973 +
      |    CASE WHEN event_type = 'purchase' THEN 3000 ELSE 0 END AS score,
      |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
      |  FROM events),
      |hist AS (SELECT score // 256 AS b, count(*) AS n, sum(pos) AS p
      |  FROM scored GROUP BY 1),
      |pr AS (SELECT b, n, p,
      |    sum(n) OVER (ORDER BY b) AS cn, sum(p) OVER (ORDER BY b) AS cp
      |  FROM hist),
      |pairs AS (SELECT j.b AS jb, k.b AS kb,
      |    CAST(k.cp - (j.cp - j.p) AS DOUBLE)
      |      / (k.cn - (j.cn - j.n)) AS avg
      |  FROM pr j JOIN pr k ON j.b <= k.b),
      |mn AS (SELECT i.b AS b, p2.jb, min(p2.avg) AS m
      |  FROM pr i JOIN pairs p2 ON p2.jb <= i.b AND p2.kb >= i.b
      |  GROUP BY 1, 2),
      |iso AS (SELECT b, max(m) AS iso FROM mn GROUP BY b)
      |SELECT h.b, CAST(h.n AS BIGINT) AS n, CAST(h.p AS BIGINT) AS p,
      |  round(CAST(h.p AS DOUBLE)/h.n, 6) AS rate,
      |  round(i.iso, 6) AS iso
      |FROM hist h JOIN iso i ON h.b = i.b ORDER BY h.b""".stripMargin

  def gates: Seq[graft.Gate] = Seq(
    gate("q205_isotonic_calibration", q205IsotonicCalibration, q205Oracle),
    gate("q204_decision_stump", q204DecisionStump, q204Oracle),
    gate("q203_ols_segment", q203OlsSegment, q203Oracle),
    gate("q165_auc", q165Auc, q165Oracle),
    gate("q268_confusion_metrics", q268ConfusionMetrics, q268Oracle),
    gate("q241_pr_auc", q241PrAuc, q241Oracle),
    gate("q197_conformal_coverage", q197ConformalCoverage, q197Oracle),
    gate("q196_propensity_att", q196PropensityAtt, q196Oracle),
    gate("q194_lift_gains", q194LiftGains, q194Oracle),
    gate("q190_calibration", q190Calibration, q190Oracle),
    gate("q166_sketch_merge", q166SketchMerge, q166Oracle),
    gate("q179_cuped", q179Cuped, q179Oracle)
  )
}
