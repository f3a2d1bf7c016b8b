// Copyright (c) 2026 graft contributors
// SPDX-License-Identifier: Apache-2.0

package graft

import org.slf4j.LoggerFactory

/** Observability surface (SURVEY.md §2.9): the reference emits a
  * `rows_updated` metric (Sum aggregation, tags {table_name, operation,
  * activity}) after every merge branch (patient_notes/src/patient_notes/
  * monitoring.py:104-131) and initializes structured logging with a
  * correlation id (monitoring.py:53-94). Kept deliberately thin: a sink
  * trait with log and in-memory implementations; an Azure-Monitor-style
  * exporter would be another implementation of the same trait.
  */
object Metrics {

  trait MetricsSink {
    def emit(name: String, value: Long, tags: Map[String, String]): Unit
  }

  /** Default: structured log line (monitoring.py's exporter analogue). */
  object LogMetricsSink extends MetricsSink {
    private val log = LoggerFactory.getLogger("graft.metrics")
    override def emit(name: String, value: Long,
        tags: Map[String, String]): Unit =
      log.info(s"metric $name=$value " +
        tags.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString(" "))
  }

  /** Test sink capturing emissions (mirrors the reference's mocked
    * exporter assertions).
    */
  final class InMemorySink extends MetricsSink {
    val emitted = scala.collection.mutable.ArrayBuffer
      .empty[(String, Long, Map[String, String])]
    override def emit(name: String, value: Long,
        tags: Map[String, String]): Unit =
      emitted += ((name, value, tags))
  }

  @volatile var sink: MetricsSink = LogMetricsSink

  /** monitoring.py:104-131 — the one metric the reference emits. */
  def rowsUpdated(value: Long, tableName: String, operation: String,
      activity: String): Unit =
    sink.emit("rows_updated", value, Map(
      "table_name" -> tableName, "operation" -> operation,
      "activity" -> activity))

  /** How a `MiniLake.merge` landed its batch: `path` is `dv` (a
    * deletion-vector sidecar, inserts appended), `rewrite` (live files
    * rewritten) or `insert` (no matched delete); `value` is the rows it
    * wrote to data files.
    */
  def mergePath(path: String, rowsWritten: Long, tablePath: String): Unit =
    sink.emit("merge_rows_written", rowsWritten, Map(
      "path" -> path, "table_path" -> tablePath))

  /** monitoring.py:53-94 — logging init shim (correlation id carried as
    * an MDC value; exporters attach here).
    */
  def initializeLogging(correlationId: String): Unit = {
    org.slf4j.MDC.put("correlation_id", correlationId)
    LoggerFactory.getLogger("graft").info(s"logging initialized")
  }
}
