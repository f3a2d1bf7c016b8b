// Copyright (c) 2026 graft contributors
// SPDX-License-Identifier: Apache-2.0

package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, udf}
import org.apache.spark.sql.types.{ArrayType, DataType, StructType}

import graft.functions.{HealthAnnotator, Ner}
import graft.ops.Extract
import graft.ops.Pseudonymise._

/** The benchmark's JVM side: one workload, run as a closed loop from
  * one client thread against a `local[N]` session.
  *
  * Usage: Harness <config.json>. The config names the workload, its
  * input directory, the run directory and the run length; results go
  * to `<runDir>/result.json` and, with tracing on, the span list to
  * `<runDir>/trace.json`. Every layer is timed from outside, around a
  * call into its public functions.
  */
object Harness {

  val NotesConfig: Map[String, TableConfig] = Map("Notes" -> TableConfig(
    columnTypes = Seq(
      FreeText -> Seq("NoteText"),
      OtherIdentifiable -> Seq("UserID"),
      DateTime -> Seq("AppointmentDate"),
      HashableId -> Seq("PatientID")),
    analysedColumns = Seq("NoteID"),
    primaryKeys = Seq("NoteID")))

  /** The 24 query maps that `graft.SparkEntry.queries` joins. */
  lazy val QueryModules: Seq[(String, Map[String, (SparkSession, String) => DataFrame])] = Seq(
    "Relational" -> graft.ops.Relational.queries,
    "Pipeline" -> graft.ops.Pipeline.queries,
    "Privacy" -> graft.ops.Privacy.queries,
    "TextAnalysis" -> graft.ops.TextAnalysis.queries,
    "Dedup" -> graft.ops.Dedup.queries,
    "Similarity" -> graft.ops.Similarity.queries,
    "Multimodal" -> graft.ops.Multimodal.queries,
    "EventsStream" -> graft.streaming.EventsStream.queries,
    "EventsOps" -> graft.ops.EventsOps.queries,
    "Sampling" -> graft.ops.Sampling.queries,
    "Vectors" -> graft.ops.Vectors.queries,
    "StreamOps" -> graft.streaming.StreamOps.queries,
    "Chunking" -> graft.ops.Chunking.queries,
    "Skew" -> graft.ops.Skew.queries,
    "Profiling" -> graft.ops.Profiling.queries,
    "Reshape" -> graft.ops.Reshape.queries,
    "CorpusHygiene" -> graft.ops.CorpusHygiene.queries,
    "Layout" -> graft.ops.Layout.queries,
    "HeavyHitters" -> graft.ops.HeavyHitters.queries,
    "Ivm" -> graft.ops.Ivm.queries,
    "Features" -> graft.ops.Features.queries,
    "TextSources" -> graft.ops.TextSources.queries,
    "Eval" -> graft.ops.Eval.queries,
    "CdfStream" -> graft.streaming.CdfStream.queries)

  /** The suite's subset rule: the lowest-numbered query of each module. */
  def suiteQueries: Seq[(String, String)] = QueryModules.map { case (m, qs) =>
    m -> qs.keys.minBy(k => k.drop(1).takeWhile(_.isDigit).toInt)
  }

  // UDF call counters behind the counting `anonymise`/`annotator`
  // wrappers; local mode runs every task in this JVM.
  val nerCalls = new AtomicLong
  val annotateCalls = new AtomicLong
  private val countingNer = udf { (t: String) =>
    nerCalls.incrementAndGet(); Option(Ner.anonymise(t))
  }
  val countingAnnotate: Column => Column = {
    val u = udf { (t: String) =>
      annotateCalls.incrementAndGet(); HealthAnnotator.annotate(t)
    }
    c => u(c)
  }
  val countingAnonymise: Column => Column = c => countingNer(c)

  /** `Extract.defaultAnnotator` with its output cast so every nested
    * field is nullable. A gold merge records the table schema as read
    * back from parquet, where every nested field is nullable, while the
    * default annotator's `offset`, `length` and `confidenceScore` are
    * not; with the default, every gold merge after the first fails its
    * schema check (see `Found`). The cast changes no value.
    */
  def nullableAnnotator(annotate: Column => Column): Extract.Annotator =
    (df, column, _) => {
      val c = column + Extract.ExtractedSuffix
      val out = df.withColumn(c, annotate(col(column)))
      out.withColumn(c, col(c).cast(nullable(out.schema(c).dataType)))
    }
  val annotator: Extract.Annotator = nullableAnnotator(HealthAnnotator.annotateUdf)
  val countingAnnotator: Extract.Annotator = nullableAnnotator(countingAnnotate)

  private def nullable(t: DataType): DataType = t match {
    case s: StructType =>
      StructType(s.fields.map(f => f.copy(dataType = nullable(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(nullable(a.elementType), containsNull = true)
    case o => o
  }

  def main(args: Array[String]): Unit = {
    val cfg = new ObjectMapper().readTree(Paths.get(args(0)).toFile)
    val run = new Run(cfg)
    try run.execute() finally run.spark.stop()
  }
}

/** One benchmark run; holds the session, the clock and the records. */
final class Run(cfg: JsonNode) {

  val workload: String = cfg.get("workload").asText
  val seconds: Double = cfg.get("seconds").asDouble
  val trace: Boolean = cfg.get("trace").asBoolean
  val runDir: Path = Paths.get(cfg.get("runDir").asText)
  val inputDir: String = cfg.get("inputDir").asText
  val setupReps: Int = cfg.get("setupReps").asInt

  val spark: SparkSession = {
    val cpus = cfg.get("cpus").asInt
    // the session settings of graft.Bench, plus run-local directories
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.locality.wait", "0s")
      .config("spark.sql.streaming.checkpointFileManagerClass",
        "graft.streaming.NioCheckpointFileManager")
      .config("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
      .config("spark.local.dir", runDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", runDir.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  val sessionReadyMs: Long = System.currentTimeMillis()

  val tracer = new Tracer(trace)
  val listener: Option[EngineListener] =
    if (trace) {
      val l = new EngineListener
      spark.sparkContext.addSparkListener(l)
      Some(l)
    } else None

  // -- operation records ---------------------------------------------

  final case class Op(round: Int, kind: String, name: String,
      startMs: Long, seconds: Double, ok: Boolean, error: String)
  val ops = mutable.ArrayBuffer.empty[Op]
  private val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala
  private def gcMs: Long = gc.map(b => math.max(0L, b.getCollectionTime)).sum
  var gcTimedMs = 0L

  /** Time one operation of the closed loop. Jobs it starts are tagged
    * so the engine listener attributes them to timed work.
    */
  def timed[T](round: Int, kind: String, name: String)(body: => T): Option[T] = {
    val sc = spark.sparkContext
    sc.setLocalProperty(EngineListener.TagKey, "timed")
    val g0 = gcMs
    val wall0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val res = try Right(tracer.span(s"$kind:$name")(body))
    catch { case e: Throwable => Left(e) }
    val dt = (System.nanoTime() - t0) / 1e9
    sc.setLocalProperty(EngineListener.TagKey, null)
    gcTimedMs += gcMs - g0
    val err = res.left.toOption.map { e =>
      val m = Option(e.getMessage).getOrElse("").linesIterator.take(2).mkString(" ")
      s"${e.getClass.getSimpleName}: $m"
    }
    ops += Op(round, kind, name, wall0, dt, res.isRight, err.getOrElse(""))
    res.toOption
  }

  val setupSeconds = mutable.ArrayBuffer.empty[Double]
  val extra = mutable.LinkedHashMap.empty[String, Any]
  val perLayer = mutable.LinkedHashMap.empty[String, Double]

  def execute(): Unit = {
    workload match {
      case "notes_bulk" | "notes_trickle" => new NotesWorkload(this).run()
      case "query_suite" => new SuiteWorkload(this).run()
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    writeResult()
  }

  /** Heap in use after a full GC: the least of three collections, so
    * a collection that runs while the listener bus or a cleaner thread
    * still holds garbage does not count.
    */
  def heapMbAfterGc(): Double = (1 to 3).map { _ =>
    System.gc()
    Thread.sleep(50)
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
  }.min

  private def writeResult(): Unit = {
    listener.foreach { l =>
      org.apache.spark.PerfbenchBridge.drainListeners(spark.sparkContext)
      val timedOps = ops.map(o => (o.startMs, o.startMs + (o.seconds * 1000).round))
      l.metrics(timedOps.toSeq).foreach { case (k, v) => perLayer(k) = v }
      perLayer("jvm.gc_s") = gcTimedMs / 1000.0
      // spans named after a layer give its self time; the per-op
      // spans ("kind:name") are the roots they nest under
      tracer.selfTimes.foreach { case (k, v) => if (!k.contains(":")) perLayer(k + "_s") = v }
      tracer.write(runDir.resolve("trace.json"))
    }
    val m = new ObjectMapper()
    val root = new java.util.LinkedHashMap[String, Any]()
    root.put("session_ready_ms", sessionReadyMs)
    root.put("setup_s", setupSeconds.asJava)
    root.put("ops", ops.map { o =>
      Map[String, Any]("round" -> o.round, "kind" -> o.kind, "name" -> o.name,
        "seconds" -> o.seconds, "ok" -> o.ok, "error" -> o.error).asJava
    }.asJava)
    extra.foreach { case (k, v) => root.put(k, toJava(v)) }
    root.put("per_layer", perLayer.asJava)
    m.writeValue(runDir.resolve("result.json").toFile, root)
  }

  private def toJava(v: Any): Any = v match {
    case m: collection.Map[_, _] => m.map { case (k, x) => k.toString -> toJava(x) }.asJava
    case s: Iterable[_] => s.map(toJava).asJava
    case o => o
  }
}

/** In-memory spans: name, start, end, parent. Written out at the end. */
final class Tracer(enabled: Boolean) {
  final case class Span(id: Int, parent: Int, name: String, start: Long, var end: Long)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil

  def span[T](name: String)(body: => T): T = if (!enabled) body else {
    val s = Span(spans.size, stack.headOption.getOrElse(-1), name, System.nanoTime(), 0L)
    spans += s
    stack = s.id :: stack
    try body finally { s.end = System.nanoTime(); stack = stack.tail }
  }

  /** Self time per span name: duration minus what its children cover. */
  def selfTimes: Map[String, Double] = {
    val childNs = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    spans.foreach(s => if (s.parent >= 0) childNs(s.parent) += s.end - s.start)
    spans.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => s.end - s.start - childNs(s.id)).sum / 1e9
    }
  }

  def write(path: Path): Unit = {
    val rows = spans.map(s => Map[String, Any]("id" -> s.id, "parent" -> s.parent,
      "name" -> s.name, "start_ns" -> s.start, "end_ns" -> s.end).asJava)
    new ObjectMapper().writeValue(path.toFile, rows.asJava)
  }
}

object Files2 {
  def walk(p: Path): Seq[Path] =
    if (!Files.exists(p)) Nil
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).toList finally s.close()
    }
  def bytes(p: Path): Long = walk(p).map(Files.size).sum
}
