// Copyright (c) 2026 graft contributors
// SPDX-License-Identifier: Apache-2.0

package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.col

import graft.ops.Pseudonymise.{FreeText, TableConfig}

/** Feature-extraction orchestration, faithful to the reference
  * (patient_notes/src/patient_notes/stages/feature_extraction.py:54-120):
  *
  *  - skip when no free-text columns configured;
  *  - probe size with `take(100)` (never a full count);
  *  - large path: `repartition(max(32, current))`, `randomSplit` into
  *    one sub-frame per "key" (the reference shards across rate-limited
  *    API keys; the orchestration is preserved so a rate-limited
  *    annotator can slot in), per-split annotate → fold-union;
  *  - small path: annotate whole frame with one key.
  *
  * The annotator is injected per key (mirrors the `analyse` seam the
  * reference's tests patch); `defaultAnnotator` ignores the key index
  * and uses the local [[graft.functions.HealthAnnotator]].
  *
  * The deterministic split seed keeps results reproducible for the
  * oracle gate.
  *
  * Departure from the reference: it projects each annotated split to
  * PKs + extracted column and joins that back onto the split on the
  * PKs (`sub_dfs[i].join(sub_df, primary_keys)`,
  * feature_extraction.py:100-108). The annotator already returns every
  * input column, so here the annotated splits are unioned directly:
  * both paths emit exactly one row per input row, each carrying the
  * extraction of its own text. The join-back would turn k same-PK rows
  * of one change batch (a delete and re-insert of a key) into k² rows,
  * pairing a deleted text's extraction with the live row.
  */
object Extract {

  /** config.py:26 */
  val ExtractedSuffix = "_extracted"
  /** config.py:29-31 — WORKER_COUNT * CORE_COUNT */
  val TargetPartitions = 32
  /** feature_extraction.py randomSplit determinism for tests/oracles. */
  val SplitSeed = 42L

  type Annotator = (DataFrame, String, Int) => DataFrame

  /** `analyse` (feature_extraction.py:30-51): add `<col>_extracted`. */
  def defaultAnnotator: Annotator = (df, column, _keyIndex) =>
    df.withColumn(column + ExtractedSuffix,
      graft.functions.HealthAnnotator.annotateUdf(col(column)))

  def extractFeatures(df: DataFrame, tableName: String, config: TableConfig,
      numKeys: Int, annotator: Annotator = defaultAnnotator): DataFrame = {
    val freeTextCols = config.columnTypes.collectFirst {
      case (FreeText, cols) => cols
    }
    freeTextCols match {
      case None => df // feature_extraction.py:79-85 — nothing to extract
      case Some(columns) =>
        val isLarge = df.take(100).length == 100
        if (isLarge) {
          val repartitioned = df.repartition(
            math.max(TargetPartitions, df.rdd.getNumPartitions))
          repartitioned.randomSplit(Array.fill(numKeys)(1.0), SplitSeed)
            .zipWithIndex
            .map { case (split, i) =>
              columns.foldLeft(split)((d, c) => annotator(d, c, i))
            }
            .reduce(_ union _)
        } else {
          // small path: one deterministic key (the reference picks
          // random.choice; seeded here for reproducibility)
          columns.foldLeft(df)((d, c) => annotator(d, c, 0))
        }
    }
  }
}
