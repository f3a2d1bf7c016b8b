// Copyright (c) 2026 graft contributors
// SPDX-License-Identifier: Apache-2.0

package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables._

/** Skew-mitigation utilities ([EXT]): salting for hot keys. AQE's
  * skew-join handling covers sort-merge joins at runtime; salting is
  * the explicit variant for aggregations and broadcast-averse shapes
  * where one key dominates (the classic null-key / power-law problem
  * at 100 TB).
  */
object Skew extends graft.Gates {

  /** Two-phase salted aggregation: groupBy(keys :+ salt) partial →
    * groupBy(keys) final. Correct for decomposable aggregates; `sums`
    * maps output column → input column to sum.
    *
    * At 100 TB the first shuffle spreads a hot key over `saltBuckets`
    * reducers; the second shuffle moves only `keys × saltBuckets`
    * pre-aggregated rows.
    */
  def saltedSum(df: DataFrame, keys: Seq[String], sums: Map[String, String],
      saltBuckets: Int = 16): DataFrame = {
    val salted = df.withColumn("_salt",
      pmod(spark_partition_id() + monotonically_increasing_id(),
        lit(saltBuckets)))
    val partialAggs = sums.map { case (out, in) =>
      sum(col(in)).as(s"_p_$out")
    }.toSeq
    val partial = salted.groupBy((keys :+ "_salt").map(col): _*)
      .agg(partialAggs.head, partialAggs.tail: _*)
    val finalAggs = sums.keys.map(out =>
      sum(col(s"_p_$out")).as(out)).toSeq
    partial.groupBy(keys.map(col): _*)
      .agg(finalAggs.head, finalAggs.tail: _*)
  }

  /** Salted broadcast join against a hot-keyed big side: explode the
    * small side `saltBuckets`× with a salt column, salt the big side
    * randomly-but-deterministically, join on keys + salt. Keeps a
    * single hot key from pinning one task.
    */
  def saltedJoin(big: DataFrame, small: DataFrame, keys: Seq[String],
      saltBuckets: Int = 16): DataFrame = {
    val saltedBig = big.withColumn("_salt",
      pmod(xxhash64(monotonically_increasing_id()), lit(saltBuckets)))
    val saltedSmall = small
      .withColumn("_salt", explode(sequence(lit(0), lit(saltBuckets - 1))))
      .withColumn("_salt", col("_salt").cast("long"))
    saltedBig.join(broadcast(saltedSmall), keys :+ "_salt").drop("_salt")
  }

  /** The salted two-phase aggregation as a gate query: sum lineitem
    * quantity/price by returnflag through `saltedSum` (16 salt
    * buckets), checked against the oracle's PLAIN group-by — salting
    * must be observably invisible in the result while spreading each
    * hot key over 16 reducers in phase one. (LayoutSkewSpec asserts
    * salted == plain inside Spark; this gate asserts it cross-engine.)
    *
    * l_quantity is integer-valued so its sum is exact under any
    * grouping order; the price sum takes the usual round + DECIMAL
    * discretization.
    */
  def q81SaltedAgg(s: SparkSession, dir: String): DataFrame =
    saltedSum(lineitem(s, dir), Seq("l_returnflag"),
      Map("sum_qty" -> "l_quantity", "sum_price" -> "l_extendedprice"),
      saltBuckets = 16)
      .select(col("l_returnflag"),
        round(col("sum_qty"), 2).cast("decimal(18,2)")
          .cast("double").as("sum_qty"),
        round(col("sum_price"), 2).cast("decimal(18,2)")
          .cast("double").as("sum_price"))
      .orderBy("l_returnflag")

  val q81Oracle: String =
    """SELECT l_returnflag,
      | CAST(CAST(round(sum(l_quantity), 2) AS DECIMAL(18,2)) AS DOUBLE)
      |   AS sum_qty,
      | CAST(CAST(round(sum(l_extendedprice), 2) AS DECIMAL(18,2)) AS DOUBLE)
      |   AS sum_price
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  /** A deliberately hot-keyed join (half of all events — every even
    * user_id — collapse onto one key, the classic null-key/power-law
    * shape) left to
    * AQE's runtime skew-join handling rather than explicit salting:
    * the complementary lever to [[saltedSum]]. The RESULT is
    * layout-independent (what the oracle checks); SkewJoinSpec forces
    * tiny skew thresholds and asserts the executed plan actually
    * split the hot partition (`isSkewJoin`) — proving the engine's
    * plans stay AQE-compatible (no accidental broadcast pin, no
    * custom node blocking the rewrite) so a 100 TB hot key gets
    * spread at runtime with zero query changes.
    *
    * Cents (exact integers) keep the join-side sums engine-exact.
    */
  def q115SkewJoin(s: SparkSession, dir: String): DataFrame = {
    // half of all events collapse onto customer key 1; the merge hint
    // pins sort-merge (the dimension would broadcast at this SF, and a
    // broadcast join has no partitions to skew). Both join children
    // stay plain scan → exchange → sort shapes: AQE's OptimizeSkewedJoin
    // only matches SMJ(Sort(Stage), Sort(Stage)) — an aggregate between
    // stage and sort disqualifies the rewrite, a plan property worth
    // pinning in the spec.
    val l = events(s, dir).select(
      when(col("user_id") % 2 === 0, 1L).otherwise(col("user_id")).as("k"),
      round(col("value") * 100, 0).cast("long").as("cents"))
    val c = customer(s, dir)
      .select(col("c_custkey").as("k"), col("c_mktsegment"))
    l.join(c.hint("merge"), "k")
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"),
        sum(col("cents")).as("total_cents"))
      .orderBy("c_mktsegment")
  }

  val q115Oracle: String =
    """WITH l AS (SELECT CASE WHEN user_id % 2 = 0 THEN 1 ELSE user_id END
      |             AS k,
      |           CAST(round(value * 100, 0) AS BIGINT) AS cents
      |    FROM events)
      |SELECT c_mktsegment, count(*) AS n,
      | CAST(sum(cents) AS BIGINT) AS total_cents
      |FROM l JOIN customer ON k = c_custkey
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  def gates: Seq[graft.Gate] = Seq(
    gate("q81_salted_agg", q81SaltedAgg, q81Oracle),
    gate("q115_skew_join", q115SkewJoin, q115Oracle)
  )
}
