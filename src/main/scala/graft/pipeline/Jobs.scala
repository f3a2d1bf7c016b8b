// Copyright (c) 2026 graft contributors
// SPDX-License-Identifier: Apache-2.0

package graft.pipeline

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types.StringType

import graft.Metrics
import graft.lake.{Catalog, Cdc, MiniLake, Watermark}
import graft.ops.{Extract, Pseudonymise}
import graft.ops.Pseudonymise.TableConfig

/** The medallion-pipeline entry points, faithful to the reference's
  * entrypoint scripts (patient_notes/src/patient_notes/entrypoints/
  * pseudonymisation.py:32-77 and feature_extraction.py:31-96), driving
  * bronze → silver → gold over MiniLake zones with watermarked CDC.
  *
  * The pipeline DAG (C8): pseudonymisation runs first; feature
  * extraction runs only on its success — here that is plain sequential
  * code, as in the reference's ADF dependsOn=Succeeded wiring.
  */
object Jobs {

  /** The four datalake zones (common_types.py:38-48). */
  final case class Zones(bronze: String, silver: String, gold: String,
      internal: String) {
    def watermarkPath: String = s"$internal/watermarks"
  }

  /** config.py:29-31 — target parallelism before UDF-heavy stages. */
  val TargetPartitions = 32

  /** entrypoints/pseudonymisation.py:32-77. */
  def runPseudonymisation(spark: SparkSession, zones: Zones,
      tableConfigs: Map[String, TableConfig],
      anonymise: Column => Column = graft.functions.Ner.anonymiseUdf): Unit = {
    Metrics.initializeLogging("pseudonymisation")
    val wm = Watermark(spark, zones.watermarkPath)
    tableConfigs.foreach { case (tableName, config) =>
      val upd = Cdc.readTableUpdate(spark, s"${zones.bronze}/$tableName",
        wm, "pseudonymisation", tableName)
      val silver = s"${zones.silver}/$tableName"
      // early-out on empty input (entrypoints/pseudonymisation.py:52-53)
      if (hasRange(upd)) {
        val stage = Cdc.Stage(
          rows = d => Pseudonymise.pseudoTransform(
            d.repartition(math.max(TargetPartitions, d.rdd.getNumPartitions)),
            tableName, config, anonymise),
          keys = Pseudonymise.pseudoTransform(_, tableName, config, NullText))
        val (ins, del) = Cdc.writeTableUpdate(spark, upd, silver,
          config.primaryKeys, wm, "pseudonymisation", tableName,
          stage = stage)
        Metrics.rowsUpdated(ins, tableName, "insert", "pseudonymisation")
        Metrics.rowsUpdated(del, tableName, "delete", "pseudonymisation")
      }
    }
  }

  /** entrypoints/feature_extraction.py:31-96: silver → gold, then
    * catalog registration of the gold table.
    */
  def runFeatureExtraction(spark: SparkSession, zones: Zones,
      tableConfigs: Map[String, TableConfig], numKeys: Int = 1,
      annotator: Extract.Annotator = Extract.defaultAnnotator): Unit =
    featureExtraction(spark, zones, tableConfigs, numKeys, annotator, None)

  /** The conf-driven entry matching the reference's deployed entrypoint
    * (feature_extraction.py:36-50): the annotator key list arrives as
    * the semicolon-separated `spark.secret.cognitive-services-keys`
    * (its length is the randomSplit shard count) and gold tables
    * register under the `spark.secret.unity-catalog-*` names. Missing
    * secrets abort before any processing, like the reference's
    * ValueError.
    */
  def runFeatureExtractionFromConf(spark: SparkSession, zones: Zones,
      tableConfigs: Map[String, TableConfig],
      annotator: Extract.Annotator = Extract.defaultAnnotator): Unit = {
    val keys = graft.Secrets.cognitiveKeys(spark)
    val names = graft.Secrets.catalogNames(spark)
    featureExtraction(spark, zones, tableConfigs, keys.length, annotator,
      Some(names))
  }

  private def featureExtraction(spark: SparkSession, zones: Zones,
      tableConfigs: Map[String, TableConfig], numKeys: Int,
      annotator: Extract.Annotator,
      qualifier: Option[(String, String)]): Unit = {
    Metrics.initializeLogging("feature_extraction")
    val wm = Watermark(spark, zones.watermarkPath)
    tableConfigs.foreach { case (tableName, config) =>
      val upd = Cdc.readTableUpdate(spark, s"${zones.silver}/$tableName",
        wm, "feature_extraction", tableName)
      val gold = s"${zones.gold}/$tableName"
      if (hasRange(upd)) {
        // silver's keys are gold's: a delete row needs no stage
        val stage = Cdc.Stage.identity.copy(rows =
          Extract.extractFeatures(_, tableName, config, numKeys, annotator))
        val (ins, del) = Cdc.writeTableUpdate(spark, upd, gold,
          config.primaryKeys, wm, "feature_extraction", tableName,
          stage = stage)
        Metrics.rowsUpdated(ins, tableName, "insert", "feature_extraction")
        Metrics.rowsUpdated(del, tableName, "delete", "feature_extraction")
      }
      // datalake.py:102-120 — make gold queryable by name. The
      // reference's Unity Catalog entry is persistent; our view is
      // session-scoped, so (re-)register whenever gold exists — a
      // no-new-data run in a fresh session must still expose the table.
      if (MiniLake.exists(gold))
        Catalog.registerLakeTable(spark, tableName, gold,
          qualifier = qualifier)
    }
  }

  /** A source version range with no versions in it (the source is
    * absent, or `low > high`) holds no change rows: skip without a job.
    * A range whose versions hold none ends in [[Cdc.writeTableUpdate]]'s
    * first pass, with the watermark untouched (C4).
    */
  private def hasRange(upd: Cdc.TableUpdate): Boolean = upd.low <= upd.high

  /** The free-text stage of a delete row's keys: the text is nulled,
    * never passed through, and no UDF runs.
    */
  private val NullText: Column => Column = _ => lit(null).cast(StringType)

  /** helloworld/helloworld.py:15 — the contract demo. */
  def helloWorld(): Unit = println("Hello World!")
}
