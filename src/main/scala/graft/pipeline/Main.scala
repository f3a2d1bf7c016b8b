// Copyright (c) 2026 graft contributors
// SPDX-License-Identifier: Apache-2.0

package graft.pipeline

import graft.ops.Pseudonymise._

/** Runnable entrypoints mirroring the reference's submitted scripts
  * (pipeline.json activities → entrypoints/pseudonymisation.py,
  * entrypoints/feature_extraction.py, helloworld/helloworld.py).
  *
  * Usage: runMain graft.pipeline.PipelineMain <baseDir> [stage]
  * where stage ∈ {pseudonymisation, feature_extraction, all, hello}.
  * Zones live under <baseDir>/{bronze,silver,gold,internal}; the Notes
  * table config matches the reference's TABLE_CONFIG (config.py:44-56).
  */
object PipelineMain {

  val NotesConfig: Map[String, TableConfig] = Map("Notes" -> TableConfig(
    columnTypes = Seq(
      FreeText -> Seq("NoteText"),
      OtherIdentifiable -> Seq("UserID"),
      DateTime -> Seq("AppointmentDate")),
    analysedColumns = Seq("NoteID"),
    primaryKeys = Seq("NoteID")))

  def main(args: Array[String]): Unit = {
    val base = args(0)
    val stage = if (args.length > 1) args(1) else "all"
    if (stage == "hello") { Jobs.helloWorld(); return }
    val spark = graft.GraftSession.start()
    val zones = Jobs.Zones(s"$base/bronze", s"$base/silver", s"$base/gold",
      s"$base/internal")
    if (stage == "pseudonymisation" || stage == "all")
      Jobs.runPseudonymisation(spark, zones, NotesConfig)
    if (stage == "feature_extraction" || stage == "all") {
      Jobs.runFeatureExtraction(spark, zones, NotesConfig)
      if (spark.catalog.tableExists("Notes")) {
        val n = spark.sql("SELECT count(*) FROM Notes").head().getLong(0)
        println(s"[pipeline] gold Notes rows: $n")
      } else println("[pipeline] no gold Notes table (nothing processed yet)")
    }
    spark.stop()
  }
}
