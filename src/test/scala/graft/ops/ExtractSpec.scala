// Copyright (c) 2026 graft contributors
// SPDX-License-Identifier: Apache-2.0

package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.functions.HealthAnnotator
import graft.ops.Pseudonymise.{FreeText, TableConfig}

/** Port of the reference's feature-extraction contracts
  * (patient_notes/tests/stages/test_feature_extraction.py:45-156 mocked
  * paths and 159-229 output-shape assertions).
  */
class ExtractSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  import spark.implicits._

  private val cfg = TableConfig(
    columnTypes = Seq(FreeText -> Seq("NoteText")),
    primaryKeys = Seq("NoteID"))

  test("annotator output shape: document.entities and document.relations") {
    val ex = HealthAnnotator.annotate(
      "delusional beliefs this afternoon, slightly distracted")
    val cats = ex.document.entities.map(e => e.text -> e.category).toMap
    assert(cats("delusional beliefs") === "SymptomOrSign")
    assert(cats("this afternoon") === "Time")
    assert(cats("slightly") === "ConditionQualifier")
    assert(cats("distracted") === "SymptomOrSign")
    val relTypes = ex.document.relations.map(_.relationType)
    assert(relTypes.contains("QualifierOfCondition"))
    assert(relTypes.contains("TimeOfCondition"))
  }

  test("small frame (<100 rows) skips the split path, adds _extracted") {
    val df = Seq((1L, "severe headache"), (2L, "taking aspirin"))
      .toDF("NoteID", "NoteText")
    val out = Extract.extractFeatures(df, "Notes", cfg, numKeys = 3)
    assert(out.columns.contains("NoteText_extracted"))
    assert(out.count() === 2L)
    val cats = out.orderBy("NoteID")
      .select(col("NoteText_extracted.document.entities.category"))
      .as[Seq[String]].collect()
    assert(cats(0) === Seq("ConditionQualifier", "SymptomOrSign"))
    assert(cats(1) === Seq("MedicationName"))
  }

  test("large frame (>=100 rows) shards across keys and joins back losslessly") {
    val df = (1L to 250L).map(i => (i, s"patient $i reports fatigue"))
      .toDF("NoteID", "NoteText")
    val keysUsed = new java.util.concurrent.ConcurrentHashMap[Int, Boolean]()
    val annotator: Extract.Annotator = (d, c, key) => {
      keysUsed.put(key, true)
      Extract.defaultAnnotator(d, c, key)
    }
    val out = Extract.extractFeatures(df, "Notes", cfg, numKeys = 3, annotator)
    assert(out.count() === 250L)
    assert(out.columns.contains("NoteText_extracted"))
    assert(keysUsed.keySet().size() === 3) // every key participates
    // no row lost or duplicated by split/join/union
    assert(out.select("NoteID").distinct().count() === 250L)
  }

  test("same-PK rows come out one per input row, each with its own text's extraction") {
    // A CDC batch holding a delete and a re-insert of one key reaches
    // extraction as two rows per PK. The large path (>=100 rows) must
    // still emit exactly its input rows — 75 PKs × 2 rows in, 150 out —
    // and pair every row with the extraction of its own text, never a
    // sibling's.
    val dup = (1L to 75L).flatMap(i =>
      Seq((i, s"patient $i reports severe headache"),
        (i, s"patient $i is taking aspirin")))
      .toDF("NoteID", "NoteText")
    val out = Extract.extractFeatures(dup, "Notes", cfg, numKeys = 2)
    val rows = out.select(col("NoteText"), col("NoteText_extracted"))
      .as[(String, HealthAnnotator.Extraction)].collect()
    assert(rows.length === 150)
    assert(rows.map(_._1).sorted.toSeq === dup.as[(Long, String)].collect()
      .map(_._2).sorted.toSeq)
    rows.foreach { case (text, extracted) =>
      assert(extracted === HealthAnnotator.annotate(text), text)
    }
  }

  test("tables without free-text config pass through untouched") {
    val df = Seq((1L, "x")).toDF("NoteID", "Other")
    val out = Extract.extractFeatures(df, "Notes",
      TableConfig(Seq.empty), numKeys = 2)
    assert(out.columns.toSeq === Seq("NoteID", "Other"))
  }
}
