// Copyright (c) 2026 graft contributors
// SPDX-License-Identifier: Apache-2.0

package perfbench

import java.nio.file.Path

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel

import graft.functions.{HealthAnnotator, Ner}
import graft.lake.{Catalog, Cdc, MiniLake, Watermark}
import graft.ops.{Extract, Pseudonymise}
import graft.pipeline.Jobs

/** notes_bulk and notes_trickle: change batches carried bronze → silver
  * → gold by the two pipeline jobs, then consumer reads of gold.
  */
final class NotesWorkload(r: Run) {
  import Harness._

  private val spark = r.spark
  private val table = "Notes"
  private val pks = Seq("NoteID")

  final case class Batch(index: Int, warmup: Boolean, inserts: Seq[Long],
      deletes: Seq[Long], lookup: Long)
  private val plan: Seq[Batch] = {
    val root = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File(s"${r.inputDir}/plan.json"))
    root.elements().asScala.map { b =>
      def ids(k: String) = b.get(k).elements().asScala.map(_.asLong).toSeq
      Batch(b.get("batch").asInt, b.get("warmup").asBoolean, ids("inserts"),
        ids("deletes"), b.get("lookup").asLong)
    }.toSeq
  }

  private var zones: Jobs.Zones = _
  private var notes: DataFrame = _
  private def bronze = s"${zones.bronze}/$table"
  private def silver = s"${zones.silver}/$table"
  private def gold = s"${zones.gold}/$table"

  // traced-run state: a probe watermark and a shadow copy of silver
  // that takes the same change batches through Cdc.writeTableUpdate
  private var probeWm: Watermark = _
  private var shadow: String = _
  private var mirrored = -1L
  private val counts = mutable.Map.empty[String, Double].withDefaultValue(0.0)

  private val ReadRepeats = 3
  private val CategorySql =
    s"""SELECT e.category AS category, count(*) AS n FROM $table
       |LATERAL VIEW explode(NoteText_extracted.document.entities) t AS e
       |GROUP BY e.category""".stripMargin

  def run(): Unit = {
    val lakes = (0 until r.setupReps).map { i =>
      val base = r.runDir.resolve(s"lake-$i")
      val t0 = System.nanoTime()
      setUp(base)
      r.setupSeconds += (System.nanoTime() - t0) / 1e9
      base
    }
    lakes.init.foreach(p => graft.Scratch.deleteRecursively(p))
    // warm-up batches on the last lake: set-up, but not repeated
    val w0 = System.nanoTime()
    plan.filter(_.warmup).foreach { b =>
      commitBronze(b)
      Jobs.runPseudonymisation(spark, zones, NotesConfig)
      Jobs.runFeatureExtraction(spark, zones, NotesConfig, 1, annotator)
      consumerReads(-1, b)
      if (r.trace) mirror(probe = false)
    }
    r.extra("warmup_s") = (System.nanoTime() - w0) / 1e9

    r.extra("setup_versions") = Map(
      "silver" -> MiniLake(spark, silver).latestVersion,
      "gold" -> MiniLake(spark, gold).latestVersion)
    val timedBatches = plan.filterNot(_.warmup)
    val versions = mutable.ArrayBuffer.empty[Map[String, Any]]
    val reads = mutable.ArrayBuffer.empty[Map[String, Any]]
    val start = System.nanoTime()
    var round = 0
    while ((System.nanoTime() - start) / 1e9 < r.seconds && round < timedBatches.size) {
      val b = timedBatches(round)
      commitBronze(b)
      val before = if (r.trace) Some(lakeFiles()) else None
      val anonymise: Column => Column =
        if (r.trace) countingAnonymise else Ner.anonymiseUdf
      val annotate: Extract.Annotator =
        if (r.trace) countingAnnotator else annotator
      r.timed(round, "batch", "pipeline") {
        r.tracer.span("pipeline.pseudonymisation") {
          Jobs.runPseudonymisation(spark, zones, NotesConfig, anonymise)
        }
        r.tracer.span("pipeline.feature_extraction") {
          Jobs.runFeatureExtraction(spark, zones, NotesConfig, 1, annotate)
        }
      }
      versions += Map("batch" -> b.index, "round" -> round,
        "silver" -> MiniLake(spark, silver).latestVersion,
        "gold" -> MiniLake(spark, gold).latestVersion,
        "rows" -> (b.inserts.size + b.deletes.size))
      before.foreach(countLakeChanges(_, b))
      reads ++= consumerReads(round, b)
      if (r.trace) probes(b)
      round += 1
    }
    r.extra("heap_mb") = r.heapMbAfterGc()
    r.extra("lake_mb") = Seq(zones.silver, zones.gold, zones.internal)
      .map(p => Files2.bytes(java.nio.file.Paths.get(p))).sum / 1e6
    r.extra("versions") = versions.toSeq
    r.extra("reads") = reads.toSeq
    if (r.trace) layerMetrics(timedBatches.take(round))
    export()
  }

  /** One set-up: load the inputs, backfill bronze → silver → gold. */
  private def setUp(base: Path): Unit = {
    zones = Jobs.Zones(s"$base/bronze", s"$base/silver", s"$base/gold",
      s"$base/internal")
    if (notes != null) notes.unpersist()
    notes = spark.read.parquet(s"${r.inputDir}/notes.parquet")
      .persist(StorageLevel.MEMORY_ONLY)
    notes.count()
    MiniLake(spark, bronze).create(notes.where(col("batch") === -1).drop("batch"))
    Jobs.runPseudonymisation(spark, zones, NotesConfig)
    Jobs.runFeatureExtraction(spark, zones, NotesConfig, 1, annotator)
    if (r.trace) {
      probeWm = Watermark(spark, s"$base/probe/watermarks")
      shadow = s"$base/probe/shadow"
      mirrored = -1L
      mirror(probe = false)
    }
  }

  private def commitBronze(b: Batch): Unit = {
    val rows = notes.drop("batch")
    MiniLake(spark, bronze).merge(
      rows.where(col("NoteID").isin(b.inserts: _*)),
      rows.where(col("NoteID").isin(b.deletes: _*)), pks)
  }

  /** The three gold reads, each made `ReadRepeats` times; set-up
    * (round -1) runs them untimed.
    */
  private def consumerReads(round: Int, b: Batch): Seq[Map[String, Any]] =
    (1 to ReadRepeats).flatMap(_ => gold3(round, b))

  private def gold3(round: Int, b: Batch): Seq[Map[String, Any]] = {
    def op[T](name: String)(body: => T): Option[T] =
      if (round < 0) Some(body) else r.timed(round, "read", name)(body)
    val cats = op("category") {
      spark.sql(CategorySql).collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    }
    val lookup = op("lookup") {
      spark.sql(s"SELECT NoteText FROM $table WHERE NoteID = ${b.lookup}")
        .collect().map(_.getString(0)).toSeq
    }
    val cdf = op("cdf") {
      val g = MiniLake(spark, gold)
      val v = g.latestVersion
      g.readChanges(v, v).count()
    }
    Seq(
      Map("round" -> round, "batch" -> b.index, "kind" -> "category",
        "value" -> cats.getOrElse(Map.empty)),
      Map("round" -> round, "batch" -> b.index, "kind" -> "lookup",
        "key" -> b.lookup, "value" -> lookup.getOrElse(Seq("<failed>"))),
      Map("round" -> round, "batch" -> b.index, "kind" -> "cdf",
        "value" -> cdf.getOrElse(-1L)))
  }

  // -- traced run: layer probes and lake counters ---------------------

  /** Carry silver's changes since the last mirror into the shadow
    * table; as a probe, time the read, the extraction and the commit
    * as layers.
    */
  private def mirror(probe: Boolean): Unit = {
    val latest = MiniLake(spark, silver).latestVersion
    if (latest > mirrored) {
      if (mirrored >= 0) probeWm.bump("probe", table, mirrored)
      def read() = {
        val u = Cdc.readTableUpdate(spark, silver, probeWm, "probe", table)
        u.df.count(); u
      }
      val upd = if (probe) r.tracer.span("lake.cdf_read")(read()) else read()
      val input = upd.df.persist(StorageLevel.MEMORY_ONLY)
      val nIn = input.count()
      if (probe) {
        r.tracer.span("ops.extract") {
          val out = Extract.extractFeatures(input, table, NotesConfig(table), 1, annotator)
            .persist(StorageLevel.MEMORY_ONLY)
          counts("extract_out") += out.count()
          out.unpersist()
        }
        counts("extract_in") += nIn
      }
      def commit() = Cdc.writeTableUpdate(spark, upd.copy(df = input), shadow,
        pks, probeWm, "probe_commit", table)
      if (probe) r.tracer.span("lake.commit")(commit()) else commit()
      input.unpersist()
      mirrored = latest
    }
  }

  private def probes(b: Batch): Unit = {
    r.tracer.span("lake.watermark") {
      val wm = Watermark(spark, zones.watermarkPath)
      wm.lowWatermark("feature_extraction", table)
      wm.highWatermark(silver)
    }
    r.tracer.span("lake.catalog")(Catalog.registerLakeTable(spark, table, gold))
    r.tracer.span("lake.snapshot_open") {
      MiniLake(spark, gold).snapshot().queryExecution.executedPlan
    }
    val bz = MiniLake(spark, bronze)
    val changes = bz.readChanges(bz.latestVersion, bz.latestVersion)
      .persist(StorageLevel.MEMORY_ONLY)
    changes.count()
    r.tracer.span("ops.pseudonymise") {
      val out = Pseudonymise.pseudoTransform(changes, table, NotesConfig(table),
        Ner.anonymiseUdf).persist(StorageLevel.MEMORY_ONLY)
      out.count()
      out.unpersist()
    }
    changes.unpersist()
    mirror(probe = true)
  }

  private def tableDirs: Seq[Path] =
    Seq(silver, gold, zones.internal).map(java.nio.file.Paths.get(_))

  /** Every log entry and parquet file under silver, gold and internal. */
  private def lakeFiles(): Set[Path] =
    tableDirs.flatMap(Files2.walk).filter { p =>
      val n = p.getFileName.toString
      n.endsWith(".parquet") ||
        (p.getParent.getFileName.toString == "_log" && n.matches("[0-9]+\\.json"))
    }.toSet

  private def countLakeChanges(before: Set[Path], b: Batch): Unit = {
    val added = lakeFiles() -- before
    counts("commits") += added.count(_.getFileName.toString.endsWith(".json"))
    val parquet = added.filter(_.getFileName.toString.endsWith(".parquet"))
    counts("files_added") += parquet.size
    val conf = spark.sparkContext.hadoopConfiguration
    val dataRows = parquet.filter(p => p.toString.contains("/data/") &&
      !p.startsWith(java.nio.file.Paths.get(zones.internal))).toSeq.map { p =>
      val f = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(p.toUri), conf)
      val rd = org.apache.parquet.hadoop.ParquetFileReader.open(f)
      try rd.getRecordCount finally rd.close()
    }.sum
    counts("rewrite_rows") += dataRows
    // silver and gold each take every change row of the batch
    counts("change_rows") += 2 * (b.inserts.size + b.deletes.size)
    counts("inserts") += b.inserts.size
  }

  private def layerMetrics(timed: Seq[Batch]): Unit = {
    val p = r.perLayer
    p("lake.commits") = counts("commits")
    p("lake.files_added") = counts("files_added")
    p("lake.rewrite_rows_per_change") = counts("rewrite_rows") / counts("change_rows")
    p("ops.extract_rows_out_per_in") = counts("extract_out") / counts("extract_in")
    p("functions.ner_calls_per_insert") = nerCalls.get / counts("inserts")
    p("functions.annotate_calls_per_insert") = annotateCalls.get / counts("inserts")
    // one thread over the texts of every note this run inserted
    val used = (plan.filter(_.warmup) ++ timed).map(_.index).toSet + -1
    val texts = notes.select("NoteText", "batch").collect()
      .filter(x => used(x.getInt(1))).map(_.getString(0))
    def rate(in: Array[String])(f: String => Any): Double = {
      in.take(500).foreach(f) // JIT warm-up
      val t0 = System.nanoTime()
      in.foreach(f)
      in.map(_.getBytes("UTF-8").length.toLong).sum / 1e6 /
        ((System.nanoTime() - t0) / 1e9)
    }
    val redacted = texts.map(Ner.anonymise)
    p("functions.ner_mb_per_s") = rate(texts)(Ner.anonymise)
    p("functions.annotate_mb_per_s") = rate(redacted)(HealthAnnotator.annotate)
  }

  /** Outputs for the checks made apart from the program. */
  private def export(): Unit = {
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    val out = r.runDir.resolve("export")
    val s = MiniLake(spark, silver)
    r.extra("silver_columns") = s.schema.fieldNames.toSeq
    s.readChanges(0, s.latestVersion)
      .select("NoteID", "NoteText", "PatientID_hashed", "AppointmentDate",
        MiniLake.ChangeType, MiniLake.CommitVersion)
      .write.parquet(out.resolve("silver_cdf").toString)
    val g = MiniLake(spark, gold)
    val ents = col("NoteText_extracted.document.entities")
    g.readChanges(0, g.latestVersion)
      .select(col("NoteID"), col(MiniLake.ChangeType), col(MiniLake.CommitVersion),
        ents.getField("text").as("ent_text"),
        ents.getField("category").as("ent_category"),
        ents.getField("offset").as("ent_offset"),
        ents.getField("length").as("ent_length"))
      .write.parquet(out.resolve("gold_cdf").toString)
    g.snapshot().select("NoteID").write.parquet(out.resolve("gold_keys").toString)
    s.snapshot().select("NoteID").write.parquet(out.resolve("silver_keys").toString)
  }
}

/** query_suite: one query per module of graft.SparkEntry.queries. */
final class SuiteWorkload(r: Run) {
  import Harness._

  private val spark = r.spark
  private val byName = QueryModules.flatMap(_._2).toMap
  private val subset = suiteQueries

  def run(): Unit = {
    // set-up: one untimed pass, which pays each query's one-time costs
    // (class loading, codegen); later passes in this JVM are warm
    (0 until r.setupReps).foreach { _ =>
      val t0 = System.nanoTime()
      subset.foreach { case (_, q) => byName(q)(spark, r.inputDir).count() }
      r.setupSeconds += (System.nanoTime() - t0) / 1e9
    }
    val scratch = r.runDir.resolve("scratch")
    val start = System.nanoTime()
    var round = 0
    var passBytes = 0L
    // the first pass's rows, exported for the oracle checks after timing
    val firstRows = mutable.LinkedHashMap.empty[String, (Array[Row], StructType)]
    while ((System.nanoTime() - start) / 1e9 < r.seconds) {
      val b0 = Files2.bytes(scratch)
      subset.foreach { case (m, q) =>
        val res = r.timed(round, "query", q) {
          r.tracer.span(s"queries.$m") {
            val df = byName(q)(spark, r.inputDir)
            (df.collect(), df.schema)
          }
        }
        if (round == 0) res.foreach(firstRows(q) = _)
      }
      if (round == 0) passBytes = Files2.bytes(scratch) - b0
      round += 1
    }
    r.extra("heap_mb") = r.heapMbAfterGc()
    r.extra("lake_mb") =
      (Files2.bytes(java.nio.file.Paths.get(r.inputDir)) + passBytes) / 1e6
    r.extra("modules") = subset.map { case (m, q) => Map("module" -> m, "query" -> q) }
    export(firstRows)
  }

  private def export(rows: collection.Map[String, (Array[Row], StructType)]): Unit = {
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    val out = r.runDir.resolve("export")
    val oracle = graft.SparkEntry.oracleSql
    rows.foreach { case (q, (rs, schema)) =>
      spark.createDataFrame(java.util.Arrays.asList(rs: _*), schema).coalesce(1)
        .write.parquet(out.resolve(q).toString)
    }
    r.extra("oracle_sql") = rows.keys.map(q => q -> oracle.get(q).orNull).toMap
  }
}
