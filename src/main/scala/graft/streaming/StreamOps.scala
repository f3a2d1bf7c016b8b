// Copyright (c) 2026 graft contributors
// SPDX-License-Identifier: Apache-2.0

package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Stream-stream join and streaming deduplication ([EXT] Structured
  * Streaming surface, complementing q48 window-agg, q51 stateful
  * sessions, q58 lake ingest).
  *
  * Both queries run the streaming plan to completion over the bounded
  * testdata and aggregate the sink BATCH-side, so the result is
  * deterministic and the DuckDB oracle can state it directly — the
  * streaming machinery (join state, dedup state, watermark eviction) is
  * what's under test.
  */
object StreamOps extends graft.Gates(graft.Gate.Streaming) {

  // Staged single-file parquet inputs (sentinels, shifted replays) are
  // pure functions of the source dir, but every invocation re-derived
  // them — a Spark write job each, several per query, every bench
  // pass. Cache the one write per (key, dir); invocations copy the
  // cached file into their fresh watch dir and stamp mtimes there.
  // The streaming protocol under test (micro-batch order, watermark
  // ticks, state eviction) is untouched — only redundant re-derivation
  // of identical input files is skipped.
  private val fileCache =
    scala.collection.concurrent.TrieMap.empty[String, java.nio.file.Path]

  private def cachedParquet(key: String,
      df: => DataFrame): java.nio.file.Path =
    fileCache.getOrElseUpdate(key, {
      val tmp = graft.Scratch.dir("graft_sops_cache")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      java.nio.file.Files.list(tmp)
        .filter(_.toString.endsWith(".parquet")).findFirst().get()
    })

  private def watchDirFor(dir: String, copies: Int): String = {
    val watch = graft.Scratch.dir("graft_stream_ops")
    (1 to copies).foreach(i => java.nio.file.Files.createSymbolicLink(
      watch.resolve(s"events_$i.parquet"),
      java.nio.file.Paths.get(s"$dir/events.parquet")))
    watch.toString
  }

  private def rawStream(s: SparkSession, watch: String, srcDir: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    // schema must match the footer exactly (its ts physical type varies
    // by testdata vintage) — a mismatched declared type makes the
    // vectorized reader surface raw physical values
    val reader = s.readStream.schema(graft.Tables.eventsRawSchema(s, srcDir))
    maxFilesPerTrigger.foreach(n =>
      reader.option("maxFilesPerTrigger", n.toString))
    graft.Tables.normalizeEventTsLtz(reader.parquet(watch))
  }

  private def runToMemorySink(s: SparkSession, out: DataFrame): DataFrame = {
    val name = "graft_sops_" + java.util.UUID.randomUUID.toString.replace("-", "")
    // join/dedup state stores are per-shuffle-partition; size to the
    // key cardinality, not the batch default
    val prevShuffle = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions",
      math.min(prevShuffle.toInt, 4).toString)
    val query = out.writeStream.outputMode("append")
      // offsets/commits/state-store deltas fsync per micro-batch;
      // Scratch prefers RAM-backed storage, same reasoning as fast
      // local disks for state stores on a real cluster
      .option("checkpointLocation",
        graft.Scratch.dir("graft_sops_ckpt").toString)
      .format("memory").queryName(name).start()
    try {
      query.processAllAvailable()
      s.table(name)
    } finally {
      query.stop()
      s.conf.set("spark.sql.shuffle.partitions", prevShuffle)
    }
  }

  /** Watermarked stream-stream inner join: views joined to the same
    * user's purchases within the following hour (the conversion-funnel
    * shape). The time-range predicate plus both watermarks bound the
    * join state — each side retains only rows inside the watermark
    * horizon, the non-negotiable ingredient for an unbounded run.
    * Result: per-day conversion counts, aggregated batch-side from the
    * joined pairs.
    */
  def q62StreamJoin(s: SparkSession, dir: String): DataFrame = {
    val raw = rawStream(s, watchDirFor(dir, 1), dir)
    val views = raw.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("ts").as("v_ts"),
        col("event_id").as("view_id"))
      .withWatermark("v_ts", "1 hour")
    val purchases = raw.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("event_id").as("purchase_id"))
      .withWatermark("p_ts", "1 hour")
    val pairs = views.join(purchases,
      expr("v_user = p_user AND p_ts >= v_ts AND " +
        "p_ts <= v_ts + interval 1 hour"))
    runToMemorySink(s, pairs)
      .groupBy(date_format(col("v_ts"), "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).as("n_pairs"),
        count_distinct(col("v_user")).as("n_users"))
      .orderBy("day")
  }

  /** Oracle on µs-floored timestamps (the engine reads the ns parquet
    * column as `ts div 1000` µs — make_timestamp(epoch_us(ts)) is the
    * same floor).
    */
  val q62Oracle: String =
    """WITH e AS (SELECT event_id, user_id, event_type,
      |  make_timestamp(epoch_us(ts)) AS ts FROM events)
      |SELECT strftime(v.ts, '%Y-%m-%d') AS day, count(*) AS n_pairs,
      | count(DISTINCT v.user_id) AS n_users
      |FROM e v JOIN e p
      |  ON v.user_id = p.user_id
      | AND v.event_type = 'view' AND p.event_type = 'purchase'
      | AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR
      |GROUP BY 1
      |ORDER BY day""".stripMargin

  /** Streaming deduplication across micro-batches: the watch dir holds
    * TWO copies of the events file delivered as separate micro-batches
    * (maxFilesPerTrigger=1); dropDuplicatesWithinWatermark keys state
    * on event_id so the replayed copy contributes nothing — first-seen
    * rows emit, duplicates die in the dedup state while inside the
    * watermark horizon and as late data once past it (either way:
    * dropped, which is what a replayed firehose segment needs). The
    * batch-side aggregate over the sink must therefore equal the
    * single-copy batch answer.
    */
  def q63StreamDedup(s: SparkSession, dir: String): DataFrame = {
    val deduped = rawStream(s, watchDirFor(dir, 2), dir, maxFilesPerTrigger = Some(1))
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")
    runToMemorySink(s, deduped)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        round(sum("value"), 2).cast("decimal(18,2)")
          .cast("double").as("total_value"))
      .orderBy("event_type")
  }

  val q63Oracle: String =
    """SELECT event_type, count(*) AS n,
      | CAST(CAST(round(sum(value), 2) AS DECIMAL(18,2)) AS DOUBLE)
      |   AS total_value
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** Stream-STATIC join: the streaming fact enriched with a broadcast
    * batch dimension — the third join shape after stream-stream (q62)
    * and batch-batch. No watermark and no join state: the static side
    * is broadcast to every micro-batch's tasks, so enrichment costs a
    * map-side hash probe per row exactly as it would on a 100 TB/day
    * firehose with a dimension table that fits an executor. Events key
    * on user_id against the customer dimension; the report aggregates
    * the sink per market segment.
    */
  def q99StreamStaticJoin(s: SparkSession, dir: String): DataFrame = {
    val dim = graft.Tables.customer(s, dir)
      .select(col("c_custkey"), col("c_mktsegment"))
    val enriched = rawStream(s, watchDirFor(dir, 1), dir)
      .join(broadcast(dim), col("user_id") === col("c_custkey"))
    runToMemorySink(s, enriched)
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"),
        count_distinct(col("user_id")).as("n_users"),
        round(sum("value"), 2).cast("decimal(18,2)")
          .cast("double").as("total_value"))
      .orderBy("c_mktsegment")
  }

  val q99Oracle: String =
    """SELECT c_mktsegment, count(*) AS n,
      | count(DISTINCT user_id) AS n_users,
      | CAST(CAST(round(sum(value), 2) AS DECIMAL(18,2)) AS DOUBLE)
      |   AS total_value
      |FROM events JOIN customer ON user_id = c_custkey
      |GROUP BY c_mktsegment
      |ORDER BY c_mktsegment""".stripMargin

  /** Watch dir for the outer join: the real events file plus a later
    * SENTINEL file holding one far-future row. Outer-join null results
    * only emit when the watermark passes a row's join-window end; a
    * bounded file stream's watermark stops at max(ts) − delay, which
    * strands the last window's unmatched rows in state forever. The
    * sentinel (delivered as its own micro-batch — the file source
    * orders by modification time, and the sentinel is written after
    * the symlink target's mtime) advances the watermark past
    * everything, so EVERY unmatched row flushes exactly once and the
    * result equals the batch left join. This is the bounded-replay
    * analogue of the idle-source watermark heartbeat a production
    * stream uses.
    */
  private def watchDirWithSentinel(s: SparkSession, dir: String): String = {
    val watch = graft.Scratch.dir("graft_stream_outer")
    java.nio.file.Files.createSymbolicLink(
      watch.resolve("events_1.parquet"),
      java.nio.file.Paths.get(s"$dir/events.parquet"))
    val raw = graft.Tables.eventsRaw(s, dir)
    // TWO sentinels in separate micro-batches: eviction for rows below
    // watermark W happens in the batch AFTER W is reached, so the
    // second sentinel's batch deterministically flushes everything the
    // first one unlocked — no reliance on the engine scheduling a
    // trailing empty batch before processAllAvailable returns.
    (1 to 2).foreach { i =>
      // the sentinel must SURVIVE the event-type filters: pushdown
      // places them below the watermark collector, so a row of a
      // filtered-out type never advances the clock. One 'view' and
      // one 'purchase' row per sentinel, on an impossible user id the
      // batch-side aggregate excludes.
      val types = {
        import s.implicits._
        Seq("view", "purchase").toDF("sentinel_type")
      }
      val sentinel = raw.limit(1)
        .crossJoin(types)
        .withColumn("event_id", lit(-i.toLong))
        .withColumn("user_id", lit(-1L))
        .withColumn("ts", raw.schema("ts").dataType match {
          case org.apache.spark.sql.types.LongType => // ns vintage
            lit(java.lang.Long.MAX_VALUE / 4 * i)
          case _ => expr("timestamp'2101-01-01 00:00:00'" +
            s" + interval $i days").cast(raw.schema("ts").dataType)
        })
        .withColumn("event_type", col("sentinel_type"))
        .select(raw.columns.map(col).toSeq: _*)
      val part = cachedParquet(s"outer_sentinel_${i}_$dir", sentinel)
      val dest = watch.resolve(s"events_${i + 1}_sentinel.parquet")
      java.nio.file.Files.copy(part, dest)
      // the file source replays oldest-mtime-first: stagger explicitly
      java.nio.file.Files.setLastModifiedTime(dest,
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() + i * 60_000L))
    }
    watch.toString
  }

  /** Watermarked stream-stream LEFT OUTER join — q62's funnel with the
    * non-converting views kept: a view row with no purchase in its
    * hour emits (view, null) once its window is provably closed (the
    * outer join's state eviction), so the stream answers "which
    * impressions did NOT convert" — the half of funnel analysis the
    * inner join cannot see. Watermarks are declared BEFORE the
    * type filters so the sentinel advances both sides' clocks.
    */
  def q168StreamOuterJoin(s: SparkSession, dir: String): DataFrame = {
    val raw = rawStream(s, watchDirWithSentinel(s, dir), dir,
      maxFilesPerTrigger = Some(1))
    val views = raw.withWatermark("ts", "1 hour")
      .filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("ts").as("v_ts"),
        col("event_id").as("view_id"))
    val purchases = raw.withWatermark("ts", "1 hour")
      .filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("event_id").as("purchase_id"))
    val joined = views.join(purchases,
      expr("v_user = p_user AND p_ts >= v_ts AND " +
        "p_ts <= v_ts + interval 1 hour"), "left_outer")
    runToMemorySink(s, joined)
      .filter(col("v_user") >= 0) // exclude the watermark sentinels
      .groupBy(date_format(col("v_ts"), "yyyy-MM-dd").as("day"))
      .agg(sum(when(col("purchase_id").isNotNull, 1L).otherwise(0L))
          .as("n_converted"),
        sum(when(col("purchase_id").isNull, 1L).otherwise(0L))
          .as("n_unconverted"))
      .orderBy("day")
  }

  val q168Oracle: String =
    """WITH e AS (SELECT event_id, user_id, event_type,
      |  make_timestamp(epoch_us(ts)) AS ts FROM events)
      |SELECT strftime(v.ts, '%Y-%m-%d') AS day,
      | CAST(sum(CASE WHEN p.event_id IS NOT NULL THEN 1 ELSE 0 END)
      |   AS BIGINT) AS n_converted,
      | CAST(sum(CASE WHEN p.event_id IS NULL THEN 1 ELSE 0 END)
      |   AS BIGINT) AS n_unconverted
      |FROM (SELECT * FROM e WHERE event_type = 'view') v
      |LEFT JOIN (SELECT * FROM e WHERE event_type = 'purchase') p
      |  ON v.user_id = p.user_id
      | AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR
      |GROUP BY 1
      |ORDER BY day""".stripMargin

  /** Watch dir for the late-data gate, in five micro-batches: the real
    * file; a sentinel that advances the watermark AND lets the next
    * batch EVICT the closed windows; a LATE file (every event
    * time-shifted back 2 days, ids offset); two more sentinels to
    * flush the tail. The eviction batch between real and late data is
    * the point: measured on this engine, a late row for a window still
    * in state MERGES (no data loss inside the horizon — batch 0+1
    * totals stay exact), while a late row for an EVICTED window is
    * dropped outright with no state resurrection and no duplicate
    * emission. The gate pins the second half; q63 pins the first.
    */
  private def watchDirWithLateReplay(s: SparkSession, dir: String): String = {
    val watch = graft.Scratch.dir("graft_stream_late")
    java.nio.file.Files.createSymbolicLink(
      watch.resolve("events_1.parquet"),
      java.nio.file.Paths.get(s"$dir/events.parquet"))
    val raw = graft.Tables.eventsRaw(s, dir)
    val isNs = raw.schema("ts").dataType ==
      org.apache.spark.sql.types.LongType
    def stage(df: => DataFrame, name: String, mtimeOffsetMs: Long): Unit = {
      val part = cachedParquet(s"late_${name}_$dir", df)
      val dest = watch.resolve(s"$name.parquet")
      java.nio.file.Files.copy(part, dest)
      java.nio.file.Files.setLastModifiedTime(dest,
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() + mtimeOffsetMs))
    }
    def sentinel(i: Int): DataFrame = raw.limit(1)
      .withColumn("event_id", lit(-i.toLong))
      .withColumn("ts",
        if (isNs) lit(java.lang.Long.MAX_VALUE / 8 * i)
        else expr("timestamp'2090-01-01 00:00:00'" +
          s" + interval $i days").cast(raw.schema("ts").dataType))
      .withColumn("event_type", lit("sentinel"))
    val late = raw
      .withColumn("event_id", col("event_id") + lit(1_000_000L))
      .withColumn("ts",
        if (isNs) col("ts") - lit(2L * 24 * 3600 * 1_000_000_000L)
        else (col("ts").cast("timestamp") - expr("interval 2 days"))
          .cast(raw.schema("ts").dataType))
    stage(sentinel(1), "events_2_sentinel", 60_000L)
    stage(late, "events_3_late", 120_000L)
    stage(sentinel(2), "events_4_sentinel", 180_000L)
    stage(sentinel(3), "events_5_sentinel", 240_000L)
    watch.toString
  }

  /** Late-data DROP semantics under a watermark — the contract that
    * bounds streaming state at all: once a window's state is evicted,
    * a straggler/replayed segment for it must contribute NOTHING — no
    * state resurrection, no duplicate append emission, no count drift.
    * The stream sees the real file, an evicting watermark tick, a
    * 2-days-late full copy, and the flush sentinels; the append-mode
    * hourly aggregate must equal the batch answer over the real file
    * alone, with every (window, type) group emitted exactly once.
    */
  def q171StreamLateDrop(s: SparkSession, dir: String): DataFrame = {
    val agg = rawStream(s, watchDirWithLateReplay(s, dir), dir,
      maxFilesPerTrigger = Some(1))
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        round(sum("value"), 2).cast("decimal(18,2)")
          .cast("double").as("total_value"))
      .select(col("window.start").cast("timestamp_ntz").as("hour"),
        col("event_type"), col("n"), col("total_value"))
    runToMemorySink(s, agg)
      .filter(col("event_type") =!= "sentinel")
      .orderBy("hour", "event_type")
  }

  val q171Oracle: String =
    """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour,
      | event_type, count(*) AS n,
      | CAST(CAST(round(sum(value), 2) AS DECIMAL(18,2)) AS DOUBLE)
      |   AS total_value
      |FROM events
      |GROUP BY 1, 2
      |ORDER BY hour, event_type""".stripMargin

  def gates: Seq[graft.Gate] = Seq(
    gate("q62_stream_join", q62StreamJoin, q62Oracle),
    gate("q63_stream_dedup", q63StreamDedup, q63Oracle),
    gate("q99_stream_static_join", q99StreamStaticJoin, q99Oracle),
    gate("q168_stream_outer_join", q168StreamOuterJoin, q168Oracle),
    gate("q171_stream_late_drop", q171StreamLateDrop, q171Oracle)
  )
}
