// Copyright (c) 2026 graft contributors
// SPDX-License-Identifier: Apache-2.0

package graft.lake

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental read/write between versioned tables — the reference's
  * signature capability (SURVEY.md §2.8; patient_notes/src/
  * patient_notes/datalake.py:52-99 and 142-239).
  *
  * Contract:
  *  - C1 read the inclusive version range [low, high] of the source CDF;
  *  - C4 when low > high return an empty-but-schema'd frame and do not
  *    advance the watermark;
  *  - C5 advance the watermark to high+1 only after a successful write
  *    (at-least-once; merge idempotence makes replay safe);
  *  - C6 reject update changes — only insert/delete flow downstream;
  *  - C7 first write to a missing target creates it with the CDC
  *    metadata columns dropped.
  */
object Cdc {

  final case class TableUpdate(df: DataFrame, low: Long, high: Long)

  /** How change rows become target rows. `rows` may be costly (UDFs)
    * and runs only on rows the target keeps: every row of the create
    * (C7), the inserts of a merge. A merge's delete rows contribute
    * only their keys (their preimage comes from the target), so they
    * take `keys` instead, which must yield the primary-key columns as
    * the target spells them and call no UDF; nothing else of a delete
    * row goes on.
    */
  final case class Stage(rows: DataFrame => DataFrame,
      keys: DataFrame => DataFrame)

  object Stage {
    val identity: Stage = Stage(d => d, d => d)
  }

  /** datalake.py:52-99 — CDF read of everything at or above the low
    * watermark.
    */
  def readTableUpdate(spark: SparkSession, sourcePath: String,
      watermark: Watermark, activity: String, tableName: String): TableUpdate = {
    val low = watermark.lowWatermark(activity, tableName)
    val high = watermark.highWatermark(sourcePath)
    val source = MiniLake(spark, sourcePath)
    val df =
      if (!source.exists) {
        // source not created yet: the empty-range contract (C4) applies
        // with no schema to borrow — emit a metadata-only change frame
        MiniLake.emptyDf(spark,
          MiniLake.changeSchema(new org.apache.spark.sql.types.StructType()))
      } else if (low > high) {
        MiniLake.emptyDf(spark, MiniLake.changeSchema(source.schema))
      } else source.readChanges(low, high)
    TableUpdate(df, low, high)
  }

  /** datalake.py:142-239 — apply a change-set to the target through
    * `stage` and advance the watermark. Returns (insertedRows,
    * deletedRows).
    */
  def writeTableUpdate(spark: SparkSession, update: TableUpdate,
      targetPath: String, primaryKeys: Seq[String],
      watermark: Watermark, activity: String, tableName: String,
      bucketNumBuckets: Option[Int] = None,
      stage: Stage = Stage.identity): (Long, Long) = {
    val df = update.df
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // One pass over the (batch-sized) change-set answers the emptiness
    // check (C4) and the update-rejection check (C6) together — the
    // reference runs isEmpty + a count as separate actions
    // (datalake.py:171-188); semantics are identical. A per-partition
    // RDD count (≤4 distinct change types) skips the aggregate
    // exchange and its adaptive stage scheduling — it also happens to
    // materialize the cache the downstream merge reuses.
    val typeCounts: Map[String, Long] =
      df.select(col(MiniLake.ChangeType)).rdd.map(_.getString(0))
        .countByValue().toMap
    // C4: nothing to process — skip entirely, watermark untouched.
    if (typeCounts.isEmpty) { df.unpersist(); return (0L, 0L) }
    // C6: updates are not supported downstream.
    if (typeCounts.contains("update_preimage") ||
      typeCounts.contains("update_postimage")) {
      df.unpersist()
      throw new IllegalArgumentException(
        s"update changes are not supported (table $tableName); " +
          "only insert and delete change types can be processed")
    }

    // bucketed layout (if requested) applies at create time and is
    // recovered from the log afterwards — merges then rewrite only the
    // buckets their delete keys touch.
    val target = bucketNumBuckets match {
      case Some(n) => MiniLake.bucketed(spark, targetPath, primaryKeys, n)
      case None => MiniLake(spark, targetPath)
    }
    val counts =
      if (!target.exists) {
        // C7: create path — the reference writes the WHOLE change frame
        // with only the metadata columns dropped, regardless of change
        // type (datalake.py:217-230); in practice a first batch from a
        // fresh source contains only inserts.
        val initial = stage.rows(df.drop(MiniLake.MetaColumns: _*))
        // row count = all change rows (meta dropped, none filtered) —
        // already known from the typeCounts pass; hint it so the write
        // coalesces to a sane file count instead of one per partition
        target.create(initial, rowHint = Some(typeCounts.values.sum))
        (typeCounts.values.sum, 0L)
      } else {
        // typeCounts already knows which change types the batch holds:
        // hand merge a statically-empty frame for an absent side so it
        // can skip that side's joins (pure-insert and pure-delete
        // batches are the common CDC shapes).
        def side(changeType: String, f: DataFrame => DataFrame) = {
          val rows = f(df.filter(col(MiniLake.ChangeType) === changeType)
            .drop(MiniLake.MetaColumns: _*))
          if (typeCounts.contains(changeType)) rows
          else MiniLake.emptyDf(spark, rows.schema)
        }
        target.merge(side("insert", stage.rows),
          side("delete", stage.keys(_).select(primaryKeys.map(col): _*)),
          primaryKeys)
      }

    df.unpersist()
    // C5: bump only after the write succeeded (datalake.py:232-239).
    watermark.bump(activity, tableName, update.high)
    counts
  }
}
