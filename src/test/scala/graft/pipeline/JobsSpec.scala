// Copyright (c) 2026 graft contributors
// SPDX-License-Identifier: Apache-2.0

package graft.pipeline

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{col, udf}
import org.scalatest.BeforeAndAfterEach
import org.scalatest.funsuite.AnyFunSuite

import graft.{Metrics, SparkTestSession}
import graft.functions.{HealthAnnotator, Ner}
import graft.lake.MiniLake
import graft.ops.Extract
import graft.ops.Pseudonymise._

/** End-to-end medallion pipeline over the reference's Notes table shape
  * (Demo.ipynb cells 3-20): bronze → pseudonymised silver → extracted
  * gold, incrementally, with metrics and catalog registration.
  */
class JobsSpec extends AnyFunSuite with BeforeAndAfterEach {
  private val spark = SparkTestSession.spark
  import spark.implicits._

  private var base: String = _
  private var zones: Jobs.Zones = _
  override def beforeEach(): Unit = {
    base = Files.createTempDirectory("jobs").toString
    zones = Jobs.Zones(s"$base/bronze", s"$base/silver", s"$base/gold",
      s"$base/internal")
  }
  override def afterEach(): Unit = MiniLake.deleteRecursively(base)

  private val notesConfig = Map("Notes" -> TableConfig(
    columnTypes = Seq(
      FreeText -> Seq("NoteText"),
      OtherIdentifiable -> Seq("UserID"),
      DateTime -> Seq("AppointmentDate")),
    analysedColumns = Seq("NoteID"),
    primaryKeys = Seq("NoteID")))

  private def notes(rows: (Long, String, Long, Timestamp)*) =
    rows.toDF("NoteID", "NoteText", "UserID", "AppointmentDate")

  test("bronze to gold: redacted, de-identified, extracted, registered") {
    val sink = new Metrics.InMemorySink
    Metrics.sink = sink
    try {
      MiniLake(spark, s"${zones.bronze}/Notes").create(notes(
        (1L, "John Smith is in London with severe headache",
          77L, Timestamp.valueOf("2023-08-16 03:04:05")),
        (2L, "taking ibuprofen since yesterday",
          88L, Timestamp.valueOf("2023-08-16 14:30:00"))))

      Jobs.runPseudonymisation(spark, zones, notesConfig)
      Jobs.runFeatureExtraction(spark, zones, notesConfig)

      val silver = MiniLake(spark, s"${zones.silver}/Notes").snapshot()
      assert(silver.columns.toSeq === Seq("NoteID", "NoteText", "AppointmentDate"))
      val s1 = silver.filter("NoteID = 1").head()
      assert(s1.getAs[String]("NoteText")
        === "<PERSON> is in <LOCATION> with severe headache")
      assert(s1.getAs[Timestamp]("AppointmentDate")
        === Timestamp.valueOf("2023-08-16 03:00:00"))

      val gold = MiniLake(spark, s"${zones.gold}/Notes").snapshot()
      assert(gold.columns.contains("NoteText_extracted"))
      val cats = gold.orderBy("NoteID")
        .select("NoteText_extracted.document.entities.category")
        .as[Seq[String]].collect()
      assert(cats(0) === Seq("ConditionQualifier", "SymptomOrSign"))
      // "yesterday" was redacted to <DATE_TIME> by pseudonymisation
      // BEFORE extraction — privacy first, so no Time entity reaches
      // gold. Exactly the reference's stage ordering.
      assert(cats(1) === Seq("MedicationName"))

      // S13: gold is queryable by name after registration
      val viaSql = spark.sql("SELECT NoteID FROM Notes ORDER BY NoteID")
        .as[Long].collect()
      assert(viaSql.toSeq === Seq(1L, 2L))

      // M1: both activities emitted insert/delete metrics
      val activities = sink.emitted.map(_._3("activity")).toSet
      assert(activities === Set("pseudonymisation", "feature_extraction"))
      assert(sink.emitted.forall(_._1 == "rows_updated"))
    } finally Metrics.sink = Metrics.LogMetricsSink
  }

  test("incremental: second run processes only new bronze versions") {
    MiniLake(spark, s"${zones.bronze}/Notes").create(notes(
      (1L, "note one", 1L, Timestamp.valueOf("2023-01-01 10:10:10"))))
    Jobs.runPseudonymisation(spark, zones, notesConfig)
    assert(MiniLake(spark, s"${zones.silver}/Notes").snapshot().count() === 1L)

    MiniLake(spark, s"${zones.bronze}/Notes").append(notes(
      (2L, "note two", 2L, Timestamp.valueOf("2023-01-02 10:10:10"))))
    Jobs.runPseudonymisation(spark, zones, notesConfig)
    val silver = MiniLake(spark, s"${zones.silver}/Notes")
    assert(silver.snapshot().count() === 2L)
    // silver's own history shows exactly one new data commit per run
    assert(silver.latestVersion === 1L)

    // a run with nothing new is a no-op (C4)
    Jobs.runPseudonymisation(spark, zones, notesConfig)
    assert(silver.latestVersion === 1L)
  }

  test("incremental gold merges with the default annotator: create plus two appends") {
    // The annotator emits non-nullable nested fields, while gold's
    // recorded schema turns nullable at every depth after its first
    // merge; every later batch must still merge.
    val bronze = MiniLake(spark, s"${zones.bronze}/Notes")
    val batches = Seq(Seq(1L, 2L), Seq(3L, 4L), Seq(5L, 6L))
    batches.zipWithIndex.foreach { case (ids, i) =>
      val batch = notes(ids.map(id => (id, s"note $id: severe headache",
        id, Timestamp.valueOf("2023-01-01 10:10:10"))): _*)
      if (i == 0) bronze.create(batch) else bronze.append(batch)
      Jobs.runPseudonymisation(spark, zones, notesConfig)
      Jobs.runFeatureExtraction(spark, zones, notesConfig)
    }
    val gold = MiniLake(spark, s"${zones.gold}/Notes").snapshot()
    assert(gold.select("NoteID").as[Long].collect().sorted.toSeq ===
      batches.flatten)
    val cats = gold.select("NoteText_extracted.document.entities.category")
      .as[Seq[String]].collect()
    assert(cats.forall(_ === Seq("ConditionQualifier", "SymptomOrSign")))
  }

  test("a trickle batch: UDFs on inserts only, deletes as a deletion " +
      "vector, and the merge that reaches the sidecar bound folds") {
    val silverPath = s"${zones.silver}/Notes"
    val goldPath = s"${zones.gold}/Notes"
    val bronze = MiniLake(spark, s"${zones.bronze}/Notes")
    def batch(ids: Seq[Long]) = notes(ids.map(id =>
      (id, s"John Smith has a severe headache, note $id", id,
        Timestamp.valueOf("2023-01-01 10:10:10"))): _*)
    bronze.create(batch(1L to 60L))
    Jobs.runPseudonymisation(spark, zones, notesConfig)
    Jobs.runFeatureExtraction(spark, zones, notesConfig)

    // call counters behind the public UDF parameters
    val nerCalls = spark.sparkContext.longAccumulator("ner")
    val annotateCalls = spark.sparkContext.longAccumulator("annotate")
    val anonymise: Column => Column = {
      val u = udf { (t: String) => nerCalls.add(1); Ner.anonymise(t) }
      c => u(c)
    }
    val annotator: Extract.Annotator = {
      val u = udf { (t: String) =>
        annotateCalls.add(1); HealthAnnotator.annotate(t)
      }
      (d, c, _) => d.withColumn(c + Extract.ExtractedSuffix, u(col(c)))
    }
    val sink = new Metrics.InMemorySink
    Metrics.sink = sink
    // the path each silver and gold merge took, in order
    def paths(table: String) = sink.emitted.collect {
      case ("merge_rows_written", n, tags) if tags("table_path") == table =>
        (tags("path"), n)
    }.toSeq
    def run(inserts: Seq[Long], deletes: Seq[Long]): Unit = {
      bronze.merge(batch(inserts), batch(deletes), Seq("NoteID"))
      Jobs.runPseudonymisation(spark, zones, notesConfig, anonymise)
      Jobs.runFeatureExtraction(spark, zones, notesConfig,
        annotator = annotator)
    }
    try {
      run(101L to 140L, 1L to 20L)
      assert(nerCalls.value === 40L)
      assert(annotateCalls.value === 40L)
      assert(paths(silverPath) === Seq(("dv", 40L)))
      assert(paths(goldPath) === Seq(("dv", 40L)))

      // each batch leaves one more live sidecar; the one that would
      // reach the bound rewrites the live set: all 80 live rows
      (2 to MiniLake.MaxLiveDvFiles).foreach(i =>
        run(Seq(200L + i), Seq(19L + i)))
      Seq(silverPath, goldPath).foreach { table =>
        assert(paths(table).map(_._1) ===
          Seq.fill(MiniLake.MaxLiveDvFiles - 1)("dv") :+ "rewrite")
        assert(paths(table).last._2 === 80L)
      }
      val want = (36L to 60L) ++ (101L to 140L) ++ (202L to 216L)
      assert(MiniLake(spark, goldPath).snapshot().select("NoteID")
        .as[Long].collect().sorted.toSeq === want)
    } finally Metrics.sink = Metrics.LogMetricsSink
  }

  test("conf-driven extraction: keys and catalog names from spark.secret.*") {
    val secretKeys = Seq("cognitive-services-keys",
      "unity-catalog-catalog-name", "unity-catalog-schema-name")
    secretKeys.foreach(k => spark.conf.unset(s"spark.secret.$k"))
    // fail-fast before any processing when the secrets are absent
    intercept[IllegalArgumentException] {
      Jobs.runFeatureExtractionFromConf(spark, zones, notesConfig)
    }
    try {
      spark.conf.set("spark.secret.cognitive-services-keys", "k1;k2;k3")
      spark.conf.set("spark.secret.unity-catalog-catalog-name", "main")
      spark.conf.set("spark.secret.unity-catalog-schema-name", "gold")

      MiniLake(spark, s"${zones.bronze}/Notes").create(
        (1L to 120L).map(i =>
          (i, s"note $i", i, Timestamp.valueOf("2023-01-01 10:10:10")))
          .toDF("NoteID", "NoteText", "UserID", "AppointmentDate"))
      Jobs.runPseudonymisation(spark, zones, notesConfig)

      val keysUsed = new java.util.concurrent.ConcurrentHashMap[Int, Boolean]()
      val annotator: graft.ops.Extract.Annotator = (d, c, key) => {
        keysUsed.put(key, true)
        graft.ops.Extract.defaultAnnotator(d, c, key)
      }
      Jobs.runFeatureExtractionFromConf(spark, zones, notesConfig, annotator)

      // shard count == number of semicolon-separated keys (>=100 rows
      // forces the large path, so all three keys participate)
      assert(keysUsed.keySet().size() === 3)
      // gold registered under the catalog-qualified view name
      assert(spark.table("main_gold_Notes").count() === 120L)
    } finally secretKeys.foreach(k => spark.conf.unset(s"spark.secret.$k"))
  }
}
