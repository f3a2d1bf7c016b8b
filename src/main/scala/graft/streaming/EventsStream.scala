// Copyright (c) 2026 graft contributors
// SPDX-License-Identifier: Apache-2.0

package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Structured Streaming surface ([EXT] — the reference is batch-only,
  * SURVEY.md §2.8): the same hourly rollup as the batch q18, expressed
  * as readStream → event-time window + watermark → memory sink, driven
  * synchronously over the events parquet. Proves the engine's streaming
  * path produces batch-identical results (the oracle for
  * q48_stream_hourly is the same SQL as the batch query's).
  *
  * Scale posture: the aggregation state is keyed on (window,
  * event_type) with a 1-hour watermark bounding state size; on a real
  * cluster the same code runs against a file/Kafka source with
  * checkpointing — nothing here is local-mode-specific except the
  * memory sink used to surface the result synchronously.
  */
object EventsStream extends graft.Gates(graft.Gate.Streaming) {

  // events.parquet's as-stored schema comes from Tables.eventsRawSchema
  // (its ts physical type varies by testdata vintage); each stream
  // normalizes ts with Tables.normalizeEventTs right after the source.

  def hourlyStream(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // The file-stream source requires a directory to watch (the shape a
    // real deployment has); stage the single testdata file into a fresh
    // watch dir via symlink — zero copy.
    val watchDir = graft.Scratch.dir("graft_stream")
    java.nio.file.Files.createSymbolicLink(
      watchDir.resolve("events.parquet"),
      java.nio.file.Paths.get(s"$dir/events.parquet"))
    val stream = s.readStream
      .schema(graft.Tables.eventsRawSchema(s, dir))
      .parquet(watchDir.toString)
      .transform(graft.Tables.normalizeEventTsLtz)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total_value"))
      .select(col("window.start").cast("timestamp_ntz").as("hour"),
        col("event_type"), col("n"), col("total_value"))

    // streaming state stores are one-per-shuffle-partition; size them
    // for the aggregation's key cardinality (hundreds of windows), not
    // the batch default — a standard knob on real deployments too
    val prevShuffle = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions",
      math.min(prevShuffle.toInt, 4).toString)
    val name = "graft_hourly_" + java.util.UUID.randomUUID.toString.replace("-", "")
    val query = stream.writeStream
      .outputMode("complete")
      .format("memory")
      .queryName(name)
      .start()
    try {
      query.processAllAvailable()
      val result = s.table(name).orderBy("hour", "event_type")
      result.cache().count() // materialize before the query stops
      result
    } finally {
      query.stop()
      s.conf.set("spark.sql.shuffle.partitions", prevShuffle)
    }
  }

  /** Sliding event-time windows (1 h window, 15 min slide): every event
    * lands in FOUR overlapping windows, the shape trend dashboards and
    * rate monitors use. Same readStream → watermark → windowed-agg →
    * memory-sink drive as [[hourlyStream]]; the aggregation state is
    * (window, event_type)-keyed and 4× the tumbling case — still
    * watermark-bounded. The oracle states window membership directly:
    * the windows containing ts start at floor15(ts) − k·15 min,
    * k ∈ 0..3.
    */
  def slidingStream(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val watchDir = graft.Scratch.dir("graft_stream_slide")
    java.nio.file.Files.createSymbolicLink(
      watchDir.resolve("events.parquet"),
      java.nio.file.Paths.get(s"$dir/events.parquet"))
    val stream = s.readStream
      .schema(graft.Tables.eventsRawSchema(s, dir))
      .parquet(watchDir.toString)
      .transform(graft.Tables.normalizeEventTsLtz)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        round(sum("value"), 2).cast("decimal(18,2)")
          .cast("double").as("total_value"))
      .select(col("window.start").cast("timestamp_ntz").as("win_start"),
        col("event_type"), col("n"), col("total_value"))

    val prevShuffle = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions",
      math.min(prevShuffle.toInt, 4).toString)
    val name = "graft_slide_" + java.util.UUID.randomUUID.toString.replace("-", "")
    val query = stream.writeStream
      .outputMode("complete")
      .format("memory")
      .queryName(name)
      .start()
    try {
      query.processAllAvailable()
      val result = s.table(name).orderBy("win_start", "event_type")
      result.cache().count()
      result
    } finally {
      query.stop()
      s.conf.set("spark.sql.shuffle.partitions", prevShuffle)
    }
  }

  /** Streaming top-k: the hourly (window, type) counts maintained by
    * the streaming aggregation, ranked to the top 3 types per window.
    * Ranking is not an incremental-state operator (a rank can change
    * retroactively as counts grow), so the canonical split applies:
    * the STREAM maintains the watermark-bounded additive state — the
    * windowed counts — and the rank runs batch-side over the sink
    * (in production, over the compacted sink table or in the serving
    * query). Both halves are partition-parallel: streaming state keys
    * on (window, type), the rank windows per hour.
    */
  def topKStream(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val watchDir = graft.Scratch.dir("graft_stream_topk")
    java.nio.file.Files.createSymbolicLink(
      watchDir.resolve("events.parquet"),
      java.nio.file.Paths.get(s"$dir/events.parquet"))
    val stream = s.readStream
      .schema(graft.Tables.eventsRawSchema(s, dir))
      .parquet(watchDir.toString)
      .transform(graft.Tables.normalizeEventTsLtz)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").cast("timestamp_ntz").as("hour"),
        col("event_type"), col("n"))

    val prevShuffle = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions",
      math.min(prevShuffle.toInt, 4).toString)
    val name = "graft_topk_" + java.util.UUID.randomUUID.toString.replace("-", "")
    val query = stream.writeStream
      .outputMode("complete")
      .format("memory")
      .queryName(name)
      .start()
    try {
      query.processAllAvailable()
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("hour").orderBy(col("n").desc, col("event_type"))
      val result = s.table(name)
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= 3)
        .orderBy("hour", "rk")
      result.cache().count()
      result
    } finally {
      query.stop()
      s.conf.set("spark.sql.shuffle.partitions", prevShuffle)
    }
  }

  val q131Oracle: String =
    """WITH hourly AS (SELECT date_trunc('hour', ts) AS hour, event_type,
      |  count(*) AS n
      | FROM events GROUP BY 1, 2),
      |ranked AS (SELECT *, row_number() OVER (PARTITION BY hour
      |  ORDER BY n DESC, event_type) AS rk FROM hourly)
      |SELECT CAST(hour AS TIMESTAMP) AS hour, event_type, n, rk
      |FROM ranked WHERE rk <= 3
      |ORDER BY hour, rk""".stripMargin

  /** Each oracle is batch SQL: streaming must agree with batch on a
    * bounded input.
    */
  def gates: Seq[graft.Gate] = Seq(
    gate("q131_stream_topk", (s, dir) => topKStream(s, dir), q131Oracle),
    gate("q48_stream_hourly", (s, dir) => hourlyStream(s, dir),
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour, event_type,
        | count(*) AS n, round(sum(value),2) AS total_value
        |FROM events
        |GROUP BY 1, 2
        |ORDER BY hour, event_type""".stripMargin),
    // window membership stated directly: ts belongs to the 4 sliding
    // windows starting at floor15(ts) - k*15min, k in 0..3
    gate("q102_stream_sliding", (s, dir) => slidingStream(s, dir),
      """SELECT CAST(time_bucket(INTERVAL 15 MINUTE, CAST(ts AS TIMESTAMP))
        |        - to_minutes(15 * k.k) AS TIMESTAMP) AS win_start,
        |  event_type, count(*) AS n,
        |  CAST(CAST(round(sum(value), 2) AS DECIMAL(18,2)) AS DOUBLE)
        |    AS total_value
        |FROM events, (SELECT unnest([0, 1, 2, 3]) AS k) k
        |GROUP BY 1, 2
        |ORDER BY win_start, event_type""".stripMargin),
    // identical to the batch q10 oracle — stateful streaming must agree
    // with the window-based batch sessionizer
    gate("q51_stream_sessions", (s, dir) => SessionizeStream.sessions(s, dir)
      .select("user_id", "session_seq", "n_events", "start_ms", "end_ms",
        "session_value"), graft.ops.Relational.q10Oracle),
    // the third independent sessionizer against the same batch oracle
    gate("q161_tws_sessions", (s, dir) => TwsSessionizeStream.sessions(s, dir)
      .select("user_id", "session_seq", "n_events", "start_ms", "end_ms",
        "session_value"), graft.ops.Relational.q10Oracle),
    gate("q58_stream_lake_ingest", LakeIngestStream.q58StreamLakeIngest,
      LakeIngestStream.q58Oracle),
    gate("q84_partitioned_ingest", LakeIngestStream.q84PartitionedIngest,
      LakeIngestStream.q84Oracle),
    gate("q88_stream_upsert", LakeIngestStream.q88StreamUpsert,
      LakeIngestStream.q88Oracle),
    gate("q116_streaming_view", LakeIngestStream.q116StreamingView,
      LakeIngestStream.q116Oracle),
    gate("q200_ann_stream_ingest", LakeIngestStream.q200AnnStreamIngest,
      LakeIngestStream.q200Oracle),
    gate("q300_stream_identity_ingest",
      LakeIngestStream.q300StreamIdentityIngest, LakeIngestStream.q300Oracle)
  )
}
