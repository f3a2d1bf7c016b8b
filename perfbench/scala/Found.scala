// Copyright (c) 2026 graft contributors
// SPDX-License-Identifier: Apache-2.0

package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.DataType

import graft.functions.Ner
import graft.lake.MiniLake
import graft.ops.{Extract, Pseudonymise}
import graft.pipeline.Jobs

/** Reproductions of the pipeline faults that the workloads steer
  * around, one printed line each, using the program's default UDFs.
  *
  * Usage: Found <workDir>   (or: python3 perfbench/found.py)
  */
object Found {

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.local.dir", s"${args(0)}/spark-local")
      .config("spark.sql.warehouse.dir", s"${args(0)}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      schemaPaths(spark, s"${args(0)}/paths-a", Seq(150, 10, 150))
      schemaPaths(spark, s"${args(0)}/paths-b", Seq(150, 150, 150))
      reinsert(spark, s"${args(0)}/reinsert")
    } finally spark.stop()
  }

  private def notes(spark: SparkSession, ids: Seq[Long]): DataFrame = {
    import spark.implicits._
    ids.map(i => (i, s"P$i", s"patient reports headache and mild nausea $i",
      s"U$i", new java.sql.Timestamp(1700000000000L + i * 1000)))
      .toDF("NoteID", "PatientID", "NoteText", "UserID", "AppointmentDate")
  }

  private def zones(base: String) =
    Jobs.Zones(s"$base/bronze", s"$base/silver", s"$base/gold", s"$base/internal")

  private def runBoth(spark: SparkSession, z: Jobs.Zones): String =
    try {
      Jobs.runPseudonymisation(spark, z, Harness.NotesConfig)
      Jobs.runFeatureExtraction(spark, z, Harness.NotesConfig)
      "ok"
    } catch { case e: Throwable => e.getMessage.linesIterator.next() }

  private def offsetField(t: DataType): String =
    t.json.split("\"name\":\"offset\"").lift(1)
      .map(_.split(",\"metadata\"")(0)).getOrElse("?")

  /** Bronze create, then appends of the given sizes, each carried to
    * gold. Batches of 100 rows or more take Extract.extractFeatures's
    * join-back path, smaller ones its direct path.
    */
  private def schemaPaths(spark: SparkSession, base: String, sizes: Seq[Int]): Unit = {
    val z = zones(base)
    val bronze = MiniLake(spark, s"${z.bronze}/Notes")
    var next = 1L
    sizes.zipWithIndex.foreach { case (n, i) =>
      val batch = notes(spark, next until next + n)
      next += n
      if (i == 0) bronze.create(batch) else bronze.append(batch)
      val v = bronze.latestVersion
      val incoming = Extract.extractFeatures(
        Pseudonymise.pseudoTransform(bronze.readChanges(v, v), "Notes",
          Harness.NotesConfig("Notes"), Ner.anonymiseUdf),
        "Notes", Harness.NotesConfig("Notes"), 1).schema("NoteText_extracted")
      val res = runBoth(spark, z)
      val recorded = MiniLake(spark, s"${z.gold}/Notes").schema("NoteText_extracted")
      println(s"[found] ${sizes.mkString("/")} batch ${i + 1} ($n rows): $res; " +
        s"incoming offset ${offsetField(incoming.dataType)}; gold records " +
        offsetField(recorded.dataType))
    }
  }

  /** 150 notes, then one bronze merge of 120 new notes plus note 5
    * deleted and re-inserted.
    */
  private def reinsert(spark: SparkSession, base: String): Unit = {
    val z = zones(base)
    val bronze = MiniLake(spark, s"${z.bronze}/Notes")
    bronze.create(notes(spark, 1L to 150L))
    runBoth(spark, z)
    val before = Harness.annotateCalls.get
    bronze.merge(notes(spark, (151L to 270L) :+ 5L), notes(spark, Seq(5L)), Seq("NoteID"))
    Jobs.runPseudonymisation(spark, z, Harness.NotesConfig)
    Jobs.runFeatureExtraction(spark, z, Harness.NotesConfig, 1, (df, c, _) =>
      df.withColumn(c + Extract.ExtractedSuffix, Harness.countingAnnotate(col(c))))
    val g = MiniLake(spark, s"${z.gold}/Notes").snapshot()
    val silver = MiniLake(spark, s"${z.silver}/Notes")
    val v = silver.latestVersion
    println(s"[found] reinsert: gold rows ${g.count()} for " +
      s"${g.select(col("NoteID")).distinct().count()} keys; annotator calls " +
      s"${Harness.annotateCalls.get - before} for " +
      s"${silver.readChanges(v, v).count()} silver change rows")
  }
}
