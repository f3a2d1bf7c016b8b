// Copyright (c) 2026 graft contributors
// SPDX-License-Identifier: Apache-2.0

package graft.streaming

import org.apache.spark.sql.{DataFrame, SQLContext}
import org.apache.spark.sql.execution.streaming.{Offset, Source}
import org.apache.spark.sql.execution.streaming.runtime.{LongOffset, SerializedOffset}
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSourceProvider}
import org.apache.spark.sql.types.StructType

import graft.lake.MiniLake

/** Structured-Streaming SOURCE over a MiniLake change feed — the
  * streaming closure of the batch CDC story (Delta's
  * `readChangeFeed`-as-stream; the reference consumes the same feed in
  * batch at patient_notes/src/patient_notes/datalake.py:88-94):
  *
  * {{{
  *   spark.readStream
  *     .format(classOf[MiniLakeCdfSourceProvider].getName)
  *     .option("path", tablePath)
  *     .option("startingVersion", "0")   // default 0
  *     .load()                           // data cols + _change_type/
  *                                       // _commit_version/_commit_timestamp
  * }}}
  *
  * Offsets ARE commit versions: each micro-batch serves the rows of
  * `readChanges(lastSeen + 1, latest)` — newly committed versions
  * only, discovered by watching the `_log` directory (a metadata
  * listing, no data scan). Exactly-once downstream composes the same
  * way as every replayable source here: the sink pairs the batchId
  * with [[MiniLake.appendIfAbsent]] txn markers.
  *
  * Scale: a micro-batch's plan is the batch CDF read — schema'd
  * parquet scans of the change files for the version range, unioned
  * and conformed — so per-batch cost is bounded by the churn in that
  * range, never the table size.
  */
final class MiniLakeCdfSourceProvider
    extends StreamSourceProvider with DataSourceRegister {

  override def shortName(): String = "minilake-cdf"

  private def lakeFor(sqlContext: SQLContext,
      parameters: Map[String, String]): MiniLake = {
    val path = parameters.getOrElse("path", throw new IllegalArgumentException(
      "minilake-cdf requires option 'path' (the table root)"))
    MiniLake(sqlContext.sparkSession, path)
  }

  override def sourceSchema(sqlContext: SQLContext,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): (String, StructType) = {
    val lake = lakeFor(sqlContext, parameters)
    require(lake.exists, s"no MiniLake table at ${parameters("path")}")
    (shortName(), MiniLake.changeSchema(lake.schema))
  }

  override def createSource(sqlContext: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): Source = {
    val lake = lakeFor(sqlContext, parameters)
    // Delta's streaming startingTimestamp: resolved FORWARD at stream
    // start (first commit at or after the instant — the same rule as
    // the batch readChangesSince, so "stream changes since 9am" never
    // silently includes the 8:59 commit); an instant past the end of
    // history is an explicit error, never a silent empty stream.
    // Mutually exclusive with startingVersion, like Delta.
    val fromTs = parameters.get("startingTimestamp").map { ts =>
      require(!parameters.contains("startingVersion"),
        "minilake-cdf: startingVersion and startingTimestamp are " +
          "mutually exclusive")
      lake.versionAtOrAfter(ts.toLong)
    }
    new MiniLakeCdfSource(lake,
      fromTs.orElse(parameters.get("startingVersion").map(_.toLong))
        .getOrElse(0L),
      parameters.get("maxCommitsPerBatch").map(_.toLong),
      skipChangeCommits =
        parameters.get("skipChangeCommits").exists(_.toBoolean),
      ignoreDeletes =
        parameters.get("ignoreDeletes").exists(_.toBoolean))
  }
}

/** Driver gates for the streaming change-feed source. */
object CdfStream extends graft.Gates(graft.Gate.Streaming) {
  import org.apache.spark.sql.{Dataset, Row, SparkSession}
  import org.apache.spark.sql.functions._

  /** q233: maintain a silver table FROM THE STREAMED change feed of
    * the q19 bronze lifecycle (create / append / merge-delete, each
    * processed as its own micro-batch like the watermarked batch CDC
    * does) — the final silver snapshot must equal the batch-CDC
    * silver, so the gate re-uses q19's oracle verbatim. Replay safety:
    * offsets are commit versions checkpointed by the engine, and the
    * apply step is MiniLake.merge, whose delete-matched/insert-absent
    * semantics are idempotent under at-least-once redelivery (C5).
    */
  def q233StreamCdcSilver(s: SparkSession, dir: String): DataFrame = {
    val base = graft.Scratch.dir("graft_cdfstream").toString
    val bronzePath = s"$base/bronze"
    val silverPath = s"$base/silver"
    val docs = graft.Tables.documents(s, dir)
      .filter(col("doc_id") < 400 || col("doc_id") % 7 === 0).persist()
    val bronze = MiniLake(s, bronzePath)
    bronze.create(docs.filter(col("doc_id") < 300))          // v0

    val apply: (Dataset[Row], Long) => Unit = (batch, _) => {
      val silver = MiniLake(s, silverPath)
      val dataCols = batch.columns
        .filterNot(MiniLake.MetaColumns.contains).toSeq
      val inserts = batch
        .filter(col(MiniLake.ChangeType) === "insert")
        .select(dataCols.map(col): _*)
      val deletes = batch
        .filter(col(MiniLake.ChangeType) === "delete")
        .select(dataCols.map(col): _*)
      if (!silver.exists) silver.create(inserts)   // C7: meta cols dropped
      else silver.merge(inserts, deletes, Seq("doc_id"))
      ()
    }
    StreamTune.clampedShuffle(s) {
      val q = s.readStream
        .format(classOf[MiniLakeCdfSourceProvider].getName)
        .option("path", bronzePath).load()
        .writeStream.option("checkpointLocation", s"$base/ckpt")
        .foreachBatch(apply).start()
      try {
        q.processAllAvailable()                              // batch: v0
        bronze.append(docs.filter(col("doc_id") >= 300 &&
          col("doc_id") < 400))                              // v1
        q.processAllAvailable()                              // batch: v1
        bronze.merge(inserts = MiniLake.emptyDf(s, bronze.schema),
          deletes = docs.filter(col("doc_id") % 7 === 0),
          pks = Seq("doc_id"))                               // v2
        q.processAllAvailable()                              // batch: v2
      } finally q.stop()
    }
    docs.unpersist()
    MiniLake(s, silverPath).snapshot()
      .select("doc_id", "text", "lang", "source", "n_chars")
      .orderBy("doc_id")
  }

  /** q240: INCREMENTAL VIEW MAINTENANCE from the streamed change feed
    * — the streaming closure of q113's batch IVM. A per-language
    * count aggregate is maintained from CDF deltas alone: each
    * micro-batch folds to (lang, ±n) group deltas (batch-sized), then
    * upserts new-count rows into a GROUP-CARDINALITY-sized compact
    * lake via mergeUpdate. The corpus is NEVER rescanned — per-batch
    * cost is O(changes + groups), the whole point of IVM at 100 TB.
    * The final counts must equal a from-scratch aggregate over the
    * final bronze (the oracle).
    */
  def q240StreamIvm(s: SparkSession, dir: String): DataFrame = {
    val base = graft.Scratch.dir("graft_ivm").toString
    val bronzePath = s"$base/bronze"
    val countsPath = s"$base/lang_counts"
    val docs = graft.Tables.documents(s, dir)
      .filter(col("doc_id") < 400 || col("doc_id") % 7 === 0).persist()
    val bronze = MiniLake(s, bronzePath)
    bronze.create(docs.filter(col("doc_id") < 300))          // v0

    val apply: (Dataset[Row], Long) => Unit = (batch, _) => {
      val delta = batch.groupBy("lang").agg(
        sum(when(col(MiniLake.ChangeType).isin(
            "insert", "update_postimage"), 1L)
          .when(col(MiniLake.ChangeType).isin(
            "delete", "update_preimage"), -1L)
          .otherwise(0L)).as("d"))
        .filter(col("d") =!= 0L)
      val counts = MiniLake.compact(s, countsPath)
      if (!counts.exists)
        counts.create(delta.select(col("lang"), col("d").as("n")))
      else {
        // group-sized read ⊕ batch-sized delta → upsert only the
        // touched groups (mergeUpdate inserts brand-new languages)
        val cur = counts.snapshot()
        val upd = delta.join(cur, Seq("lang"), "left")
          .select(col("lang"),
            (coalesce(col("n"), lit(0L)) + col("d")).as("n"))
        counts.mergeUpdate(upd, Seq("lang"))
      }
      ()
    }
    StreamTune.clampedShuffle(s) {
      val q = s.readStream
        .format(classOf[MiniLakeCdfSourceProvider].getName)
        .option("path", bronzePath).load()
        .writeStream.option("checkpointLocation", s"$base/ckpt")
        .foreachBatch(apply).start()
      try {
        q.processAllAvailable()                              // v0
        bronze.append(docs.filter(col("doc_id") >= 300 &&
          col("doc_id") < 400))                              // v1
        q.processAllAvailable()
        bronze.merge(inserts = MiniLake.emptyDf(s, bronze.schema),
          deletes = docs.filter(col("doc_id") % 7 === 0),
          pks = Seq("doc_id"))                               // v2
        q.processAllAvailable()
      } finally q.stop()
    }
    docs.unpersist()
    MiniLake(s, countsPath).snapshot()
      .filter(col("n") > 0)
      .orderBy("lang")
  }

  val q240Oracle: String =
    """SELECT lang, count(*) AS n
      |FROM documents
      |WHERE doc_id < 400 AND doc_id % 7 <> 0
      |GROUP BY lang
      |ORDER BY lang""".stripMargin

  def gates: Seq[graft.Gate] = Seq(
    // the stream-maintained silver must equal the batch-CDC silver
    gate("q233_stream_cdc_silver", q233StreamCdcSilver,
      graft.ops.Pipeline.q19Oracle),
    gate("q240_stream_ivm", q240StreamIvm, q240Oracle),
    gate("q273_stream_rate_limit", q273StreamRateLimit, q273Oracle)
  )

  /** q273: rate-limited backlog drain — `maxCommitsPerBatch` is the
    * `maxFilesPerTrigger` analogue for the CDF source: a table with a
    * 6-commit backlog, streamed with a 2-commit admission cap, must
    * drain in exactly THREE bounded micro-batches (never one
    * table-sized batch whose shuffle/state has to fit at once — the
    * difference between a bounded-memory catch-up and an OOM on a
    * 100 TB backlog). The gate records each micro-batch's row count
    * and distinct commit versions; all three are closed form.
    */
  def q273StreamRateLimit(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = graft.Scratch.dir("graft_ratelimit").toString
    val t = MiniLake.compact(s, s"$base/ledger")
    t.create(Seq((0L, 0L), (1L, 11L), (2L, 22L)).toDF("k", "cents"))
    for (i <- 1L to 5L)
      t.append(Seq((10 * i, 100 * i), (10 * i + 1, 100 * i + 1))
        .toDF("k", "cents"))                                // v1..v5
    val seen =
      new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Long)]()
    val q = s.readStream
      .format(classOf[MiniLakeCdfSourceProvider].getName)
      .option("path", s"$base/ledger")
      .option("maxCommitsPerBatch", "2")
      .load()
      .writeStream.option("checkpointLocation", s"$base/ckpt")
      .foreachBatch { (batch: Dataset[Row], id: Long) =>
        val vs = batch.agg(count(lit(1)),
          countDistinct(col(MiniLake.CommitVersion))).collect().head
        seen.add((id, vs.getLong(0), vs.getLong(1)))
        ()
      }.start()
    StreamTune.clampedShuffle(s) {
      try q.processAllAvailable() finally q.stop()
    }
    scala.jdk.CollectionConverters.CollectionHasAsScala(seen)
      .asScala.toSeq.sortBy(_._1)
      .toDF("batch_id", "n_rows", "n_versions")
  }

  private val q273Oracle: String =
    """SELECT * FROM (VALUES
      |  (CAST(0 AS BIGINT), CAST(5 AS BIGINT), CAST(2 AS BIGINT)),
      |  (CAST(1 AS BIGINT), CAST(4 AS BIGINT), CAST(2 AS BIGINT)),
      |  (CAST(2 AS BIGINT), CAST(4 AS BIGINT), CAST(2 AS BIGINT)))
      |  AS t(batch_id, n_rows, n_versions)
      |ORDER BY batch_id""".stripMargin
}

final class MiniLakeCdfSource(lake: MiniLake, startingVersion: Long,
    maxCommitsPerBatch: Option[Long] = None,
    skipChangeCommits: Boolean = false,
    ignoreDeletes: Boolean = false)
    extends Source
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {

  require(maxCommitsPerBatch.forall(_ > 0),
    s"maxCommitsPerBatch must be positive, got $maxCommitsPerBatch")

  /** Delta's streaming convenience options, classified from commit
    * METADATA before any change file is opened
    * ([[MiniLake.changeClassAt]]): `skipChangeCommits` drops every
    * commit that deletes or modifies existing rows (insert-only
    * commits still stream); `ignoreDeletes` drops delete-ONLY commits
    * but keeps erroring on rewrites (Delta's narrower legacy option —
    * a stream that silently dropped an update commit would be wrong,
    * not convenient). Skipping happens inside the served version
    * range, so the never-redeliver cursor advances past skipped
    * commits exactly once, like Delta's.
    */
  private def admitVersion(v: Long): Boolean = lake.changeClassAt(v) match {
    case "none" | "insert-only" => true
    case "delete-only" => !(skipChangeCommits || ignoreDeletes)
    case _ =>
      if (skipChangeCommits) false
      else if (ignoreDeletes) throw new IllegalStateException(
        s"MiniLake CDF stream over ${lake.path}: commit $v modifies " +
          "existing rows; ignoreDeletes only skips delete commits — " +
          "use skipChangeCommits to skip rewrites as well")
      else true
  }

  /** Highest version this source has already offered/served — the
    * admission cursor for rate limiting (the `maxFilesPerTrigger`
    * analogue: a backlogged table is drained in bounded micro-batches
    * instead of one table-sized batch whose state/shuffle must fit at
    * once). Recovered forward by [[getBatch]] on restart (the V1
    * engine replays the WAL range through getBatch before the first
    * new trigger); until then a restarted capped stream may offer one
    * already-committed range, which readChanges serves as the empty
    * schema'd no-op (C4) — progress then resumes from the committed
    * position, never regressing data.
    */
  @volatile private var admitted: Long = startingVersion - 1

  /** The table schema this stream was PLANNED against, pinned at
    * source construction: the V1 engine binds downstream operators to
    * these ordinals for the life of the query, so a table that
    * evolves mid-stream (mergeSchema append, rename) must surface as
    * an explicit restart-the-stream error — serving batches conformed
    * to the NEW schema under the OLD declaration would mis-bind
    * columns silently. Delta's streaming source draws the same
    * boundary (fails the stream on schema change; the restart picks
    * up the new schema).
    */
  private val pinnedDataSchema: StructType = lake.schema

  override val schema: StructType = MiniLake.changeSchema(pinnedDataSchema)

  private def versionOf(o: Offset): Long = o match {
    case LongOffset(v)       => v
    case SerializedOffset(j) => j.trim.toLong
    case other => throw new IllegalArgumentException(
      s"unexpected offset type: $other")
  }

  /** End-of-backlog snapshot for `Trigger.AvailableNow`: captured ONCE
    * when the engine calls [[prepareForTriggerAvailableNow]], so the
    * run drains exactly the commits that existed at start (in
    * rate-limited batches) and then stops — commits landing mid-drain
    * wait for the next scheduled run. This is why the source
    * implements the trait itself rather than riding Spark's
    * deprecated V1 wrapper: the wrapper captures the source's CAPPED
    * first offer as the end, so a rate-limited backlog would stop
    * after one batch instead of draining.
    */
  @volatile private var availableNowEnd: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowEnd = Some(lake.latestVersion)

  override def getDefaultReadLimit
      : org.apache.spark.sql.connector.read.streaming.ReadLimit =
    org.apache.spark.sql.connector.read.streaming.ReadLimit.allAvailable()

  /** The shared admission computation: latest commit (capped at the
    * AvailableNow end when one is pinned), rate-limited to
    * `admitted + maxCommitsPerBatch`. One `_log` listing, no data
    * touched.
    */
  private def offeredEnd(): Option[Long] = {
    val latest = availableNowEnd.fold(lake.latestVersion)(
      math.min(lake.latestVersion, _))
    if (latest < startingVersion) None
    else Some(maxCommitsPerBatch
      .fold(latest)(k => math.min(latest, admitted + k)))
  }

  override def getOffset: Option[Offset] = offeredEnd().map(LongOffset(_))

  /** Admission-control form of [[getOffset]] — the surface the engine
    * drives `Trigger.AvailableNow` through (prepare pins the end;
    * each call offers the next rate-limited slice; an offer equal to
    * `start` ends the run).
    */
  override def latestOffset(
      start: org.apache.spark.sql.connector.read.streaming.Offset,
      limit: org.apache.spark.sql.connector.read.streaming.ReadLimit)
      : org.apache.spark.sql.connector.read.streaming.Offset =
    offeredEnd().map(LongOffset(_)).orNull

  override def reportLatestOffset()
      : org.apache.spark.sql.connector.read.streaming.Offset =
    offeredEnd().map(LongOffset(_)).orNull

  override def initialOffset()
      : org.apache.spark.sql.connector.read.streaming.Offset =
    LongOffset(startingVersion - 1)

  /** Changes of versions (start, end] — exactly the batch CDF read,
    * so a stream-maintained table provably equals its batch-CDC
    * sibling (CdfSourceSpec pins this; gate q233 hash-checks it).
    */
  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    val lo0 = start.map(versionOf(_) + 1).getOrElse(startingVersion)
    val hi = versionOf(end)
    // Never RE-serve a version this instance already admitted: if a
    // restarted capped stream's first offer ever landed BELOW the
    // engine's WAL-committed offset (admitted resets to
    // startingVersion−1 on restart), the engine would run an inverted
    // empty batch, COMMIT its lower offset, and then ask for
    // (lowOffset, latest] — re-serving versions the pre-restart run
    // already delivered. The clamp floors the served range at the
    // cursor, turning that hypothetical re-ask into the schema'd
    // no-op. On this engine it is a provable identity (Spark's V1
    // recovery replays the WAL range through getBatch before the
    // first new trigger, so admitted is seeded to the committed
    // position before any capped offer — CdfSourceSpec's
    // "admission cursor" restart test pins this); the clamp makes the
    // never-redeliver contract hold by construction rather than by
    // engine version. Legit same-process serving is strictly
    // advancing (each range served once), so the clamp never
    // suppresses undelivered data.
    val lo = math.max(lo0, admitted + 1)
    // advance the admission cursor past everything the engine has
    // already committed (lo0 − 1) or is about to (hi) — monotone, so a
    // restart can only catch up, never re-admit served versions
    admitted = math.max(admitted, math.max(hi, lo0 - 1))
    // fail FAST when the table no longer reads under the pinned
    // schema: readChanges conforms every slice to the CURRENT table
    // schema, so a mid-stream evolution would otherwise hand the V1
    // engine a frame whose columns diverge from the declared source
    // schema — ordinal mis-binding, not an error
    val now = lake.schema
    def sig(s: StructType) = s.fields.toSeq.map(f => (f.name, f.dataType))
    if (sig(now) != sig(pinnedDataSchema))
      throw new IllegalStateException(
        s"MiniLake CDF stream over ${lake.path}: table schema changed " +
          s"mid-stream (was ${pinnedDataSchema.simpleString}, now " +
          s"${now.simpleString}); restart the stream to pick up the " +
          "new schema")
    // V1 contract: the returned frame must carry isStreaming=true; the
    // bridge wraps the batch plan lazily, pushdown intact. The
    // projection onto the pinned schema is an identity here (the
    // signatures just matched) — kept so the bound ordinals are
    // guaranteed by construction, not by readChanges' column order.
    org.apache.spark.sql.GraftStreamingBridge.asStreamingFrame(
      MiniLake.conformTo(lake.readChangesWhere(lo, hi, admitVersion),
        schema))
  }

  override def stop(): Unit = ()
}
