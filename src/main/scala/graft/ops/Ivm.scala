// Copyright (c) 2026 graft contributors
// SPDX-License-Identifier: Apache-2.0

package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables._
import graft.lake.MiniLake

/** Incremental view maintenance ([EXT] surface): keep a grouped
  * aggregate (the "gold" table) current by folding in the lake's
  * change feed, never re-scanning the base table — the capability the
  * CDC machinery (SURVEY §2.8) exists to enable. SUM/COUNT are
  * self-maintainable: inserts add, delete preimages subtract, updates
  * do both; a group whose count reaches zero leaves the view.
  *
  * Scale: each maintenance step aggregates ONE batch of changes
  * (map-side-combinable, keyed on the group columns) and joins it
  * against the current view full-outer on the same key — the work is
  * O(changed rows + touched groups) per step, independent of base-
  * table size. A 100 TB fact table with a daily 0.1% churn maintains
  * its rollups for ~1/1000 of the recompute cost; the view itself can
  * live in a MiniLake table keyed for the join.
  */
object Ivm extends graft.Gates(graft.Gate.LakeProtocol) {

  /** Signed per-group deltas of a CDF slice: +1 for rows arriving
    * (insert / update_postimage), −1 for rows leaving (delete /
    * update_preimage) — applied to the row count and each SUM measure.
    */
  def deltas(changes: DataFrame, keys: Seq[String],
      measures: Map[String, Column]): DataFrame = {
    val sign = when(col("_change_type").isin("insert", "update_postimage"),
      1L).otherwise(-1L)
    val aggs = sum(sign).as("d_n") +: measures.toSeq.map {
      case (name, c) => sum(sign * c).as(s"d_$name")
    }
    changes.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Fold a delta table into the current view. `gold` has columns
    * (keys..., n, measures...); `delta` is [[deltas]] output. Groups
    * ending at n == 0 drop out; groups appearing for the first time
    * enter with their delta values.
    */
  def applyDeltas(gold: DataFrame, delta: DataFrame, keys: Seq[String],
      measureNames: Seq[String]): DataFrame = {
    val merged = gold.join(delta, keys, "full_outer")
    val cols = keys.map(col) ++
      ((coalesce(col("n"), lit(0L)) + coalesce(col("d_n"), lit(0L)))
        .as("n") +:
        measureNames.map(m =>
          (coalesce(col(m), lit(0L)) + coalesce(col(s"d_$m"), lit(0L)))
            .as(m)))
    merged.select(cols: _*).filter(col("n") > 0)
  }

  /** The maintenance loop as a gate: an events lake goes through
    * create → append → predicate DELETE, and the per-event-type
    * (count, revenue-in-cents) view is maintained purely from
    * `readChanges` — two incremental steps, never a base-table
    * re-aggregation. The oracle states the final snapshot's aggregate
    * directly: any sign error, double-apply, or missed change type
    * diverges. Cents (exact integers) keep the SUM engine-exact.
    */
  def q113IncrementalView(s: SparkSession, dir: String): DataFrame = {
    val base = graft.Scratch.dir("graft_ivm").toString
    val t = MiniLake(s, s"$base/events")
    val e = events(s, dir).select(
      col("event_id"), col("user_id"), col("event_type"),
      round(col("value") * 100, 0).cast("long").as("cents"))
    t.create(e.filter(col("event_id") < 5000))           // v0
    t.append(e.filter(col("event_id") >= 5000))          // v1
    t.delete(col("user_id") % 10 === 0)                  // v2
    val keys = Seq("event_type")
    val measures = Map("total_cents" -> col("cents"))
    val empty = MiniLake.emptyDf(s,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("event_type",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("n",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("total_cents",
          org.apache.spark.sql.types.LongType))))
    val afterIngest = applyDeltas(empty,
      deltas(t.readChanges(0, 1), keys, measures), keys, Seq("total_cents"))
    val afterDelete = applyDeltas(afterIngest,
      deltas(t.readChanges(2, 2), keys, measures), keys, Seq("total_cents"))
    afterDelete
      .select(col("event_type"), col("n"), col("total_cents"))
      .orderBy("event_type")
  }

  val q113Oracle: String =
    """SELECT event_type, count(*) AS n,
      | CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
      |   AS total_cents
      |FROM events
      |WHERE user_id % 10 <> 0
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  def gates: Seq[graft.Gate] = Seq(
    gate("q113_incremental_view", q113IncrementalView, q113Oracle)
  )
}
