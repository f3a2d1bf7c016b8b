// Copyright (c) 2026 graft contributors
// SPDX-License-Identifier: Apache-2.0

package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables._

/** Reshaping + fuzzy-matching surface: UNPIVOT (wide→long, the inverse
  * of q61's pivot), RANGE-frame windows (time-interval frames over an
  * aggregate, vs q9's ROWS frame), and blocked edit-distance matching
  * (the fuzzy near-dup family's exact-metric member, alongside q41
  * Jaccard / q42 MinHash / q43 SimHash).
  */
object Reshape extends graft.Gates {

  /** UNPIVOT: per-nation customer and supplier counts as a wide grid,
    * melted to (nation, metric, value) rows — `DataFrame.unpivot`, the
    * built-in inverse of pivot. Scale shape: unpivot is a per-row
    * Expand (no shuffle, no state); the only shuffles here are the two
    * pre-aggregations, both map-side combinable. The metric column
    * stays a literal, so downstream filters on it constant-fold.
    */
  def q96Unpivot(s: SparkSession, dir: String): DataFrame = {
    val c = customer(s, dir).groupBy(col("c_nationkey").as("k"))
      .agg(count(lit(1)).as("n_customers"))
    val su = supplier(s, dir).groupBy(col("s_nationkey").as("k"))
      .agg(count(lit(1)).as("n_suppliers"))
    val wide = nation(s, dir)
      .join(c, col("n_nationkey") === c("k"), "left")
      .join(su, col("n_nationkey") === su("k"), "left")
      .select(col("n_name"),
        coalesce(col("n_customers"), lit(0L)).as("n_customers"),
        coalesce(col("n_suppliers"), lit(0L)).as("n_suppliers"))
    wide.unpivot(
      Array(col("n_name")),
      Array(col("n_customers"), col("n_suppliers")),
      "metric", "value")
      .orderBy("n_name", "metric")
  }

  val q96Oracle: String =
    """WITH c AS (SELECT c_nationkey AS k, count(*) AS v
      |           FROM customer GROUP BY 1),
      |s AS (SELECT s_nationkey AS k, count(*) AS v
      |      FROM supplier GROUP BY 1)
      |SELECT n_name, 'n_customers' AS metric,
      |  CAST(coalesce(c.v, 0) AS BIGINT) AS value
      |FROM nation LEFT JOIN c ON c.k = n_nationkey
      |UNION ALL
      |SELECT n_name, 'n_suppliers' AS metric,
      |  CAST(coalesce(s.v, 0) AS BIGINT) AS value
      |FROM nation LEFT JOIN s ON s.k = n_nationkey
      |ORDER BY n_name, metric""".stripMargin

  /** RANGE-frame window: 7-day trailing revenue per day. The frame is
    * a time INTERVAL (all rows within the preceding 6 days), not a row
    * count — q9's ROWS frame can't express it when days are missing.
    * Ordered by the day's epoch-ms so both engines share exact frame
    * arithmetic. The window runs over the 30-row DAILY aggregate (the
    * q82 rule: aggregate first, window the small result — a global
    * window over raw events would single-task at scale).
    *
    * Parity: daily revenue snaps to the DECIMAL(18,2) grid, the
    * trailing sum adds ≤7 exact decimals (order-free), and both
    * columns emit as DOUBLE.
    */
  def q97TrailingWindow(s: SparkSession, dir: String): DataFrame = {
    val daily = events(s, dir)
      .filter(col("event_type") === "purchase")
      .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .agg(round(sum("value"), 2).cast("decimal(18,2)").as("revenue"))
      .withColumn("day_ms", unix_millis(to_timestamp(col("day"))))
    val w = Window.orderBy(col("day_ms"))
      .rangeBetween(-6L * 86400000L, Window.currentRow)
    daily
      .withColumn("trailing7",
        sum(col("revenue")).over(w).cast("decimal(18,2)").cast("double"))
      .select(col("day"), col("revenue").cast("double").as("revenue"),
        col("trailing7"))
      .orderBy("day")
  }

  val q97Oracle: String =
    """WITH daily AS (
      |  SELECT strftime(ts, '%Y-%m-%d') AS day,
      |    CAST(round(sum(value), 2) AS DECIMAL(18,2)) AS revenue,
      |    epoch_ms(CAST(strftime(ts, '%Y-%m-%d') AS TIMESTAMP)) AS day_ms
      |  FROM events WHERE event_type = 'purchase'
      |  GROUP BY 1)
      |SELECT day, CAST(revenue AS DOUBLE) AS revenue,
      |  CAST(CAST(sum(revenue) OVER (ORDER BY day_ms
      |    RANGE BETWEEN 518400000 PRECEDING AND CURRENT ROW)
      |    AS DECIMAL(18,2)) AS DOUBLE) AS trailing7
      |FROM daily
      |ORDER BY day""".stripMargin

  /** Blocked edit-distance matching: document pairs whose 40-char
    * lowercase prefixes are within Levenshtein distance 8, candidate-
    * generated by an EXACT blocking key (lang + 12-char prefix) so the
    * quadratic metric only runs inside blocks — the standard fuzzy-
    * join shape (block → equi-shuffle → verify), never an all-pairs
    * theta join. `levenshtein` is codegen'd in Spark and identical to
    * DuckDB's (classic DP), so the distances gate exactly.
    *
    * At 100 TB the lever is the blocking key: tighten/loosen the
    * prefix length (or swap in q42's MinHash bands) to trade recall
    * against block size; the verify stage stays per-pair O(40²).
    */
  def q98FuzzyPairs(s: SparkSession, dir: String): DataFrame = {
    def keyed(idAs: String, pfxAs: String): DataFrame =
      documents(s, dir).select(
        col("doc_id").as(idAs), col("lang"),
        substring(lower(col("text")), 1, 12).as(s"blk_$idAs"),
        substring(lower(col("text")), 1, 40).as(pfxAs))
    val a = keyed("a_id", "a_pfx")
    val b = keyed("b_id", "b_pfx").withColumnRenamed("lang", "lang_b")
    a.join(b,
        col("blk_a_id") === col("blk_b_id") &&
          col("lang") === col("lang_b") && col("a_id") < col("b_id"))
      .withColumn("dist",
        levenshtein(col("a_pfx"), col("b_pfx")).cast("long"))
      .filter(col("dist") <= 8)
      .select("a_id", "b_id", "lang", "dist")
      .orderBy("a_id", "b_id")
  }

  val q98Oracle: String =
    """WITH k AS (SELECT doc_id, lang,
      |  substr(lower(text), 1, 12) AS blk,
      |  substr(lower(text), 1, 40) AS pfx FROM documents)
      |SELECT a.doc_id AS a_id, b.doc_id AS b_id, a.lang,
      |  CAST(levenshtein(a.pfx, b.pfx) AS BIGINT) AS dist
      |FROM k a JOIN k b
      |  ON a.blk = b.blk AND a.lang = b.lang AND a.doc_id < b.doc_id
      |WHERE levenshtein(a.pfx, b.pfx) <= 8
      |ORDER BY a_id, b_id""".stripMargin

  def gates: Seq[graft.Gate] = Seq(
    gate("q96_unpivot", q96Unpivot, q96Oracle),
    gate("q97_trailing_window", q97TrailingWindow, q97Oracle),
    gate("q98_fuzzy_pairs", q98FuzzyPairs, q98Oracle)
  )
}
