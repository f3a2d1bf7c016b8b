// Copyright (c) 2026 graft contributors
// SPDX-License-Identifier: Apache-2.0

package graft.ops

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables._
import graft.lake.{Cdc, MiniLake, Watermark}

/** Driver-gate queries that exercise the MiniLake CDC pipeline
  * (SURVEY.md §2.1/§2.8) end-to-end with a SQL-expressible final state:
  * deterministic version history built from the `documents` table, then
  * incrementally processed bronze → silver through the watermarked CDC
  * path. The DuckDB oracle states the expected final silver snapshot
  * directly against `documents`.
  */
object Pipeline extends graft.Gates(graft.Gate.LakeProtocol) {

  /** create v0 (doc_id < 300) → append v1 (300–399) → merge-delete
    * (doc_id % 7 == 0) → two watermarked CDC passes (split mid-history
    * to prove incremental processing) → silver snapshot.
    */
  def q19CdcRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val base = graft.Scratch.dir("graft_cdc").toString
    val bronzePath = s"$base/bronze/documents"
    val silverPath = s"$base/silver/documents"
    val wm = Watermark(s, s"$base/internal/watermark")

    // the scenario filters this small table repeatedly while building
    // bronze history — persist once
    val docs = documents(s, dir).filter(col("doc_id") < 400 ||
      col("doc_id") % 7 === 0).persist()
    val bronze = MiniLake(s, bronzePath)
    bronze.create(docs.filter(col("doc_id") < 300))

    def process(): Unit = {
      val upd = Cdc.readTableUpdate(s, bronzePath, wm, "pseudonymisation", "documents")
      Cdc.writeTableUpdate(s, upd, silverPath, Seq("doc_id"), wm,
        "pseudonymisation", "documents")
    }

    process() // pass 1: v0 only
    bronze.append(docs.filter(col("doc_id") >= 300 && col("doc_id") < 400))
    process() // pass 2: v1 only (watermark proves the range)
    bronze.merge(
      inserts = MiniLake.emptyDf(s, bronze.schema),
      deletes = docs.filter(col("doc_id") % 7 === 0),
      pks = Seq("doc_id"))
    // NOTE: the delete must be its own pass. A batch spanning an insert
    // version and a later delete version applies whenMatchedDelete
    // before whenNotMatchedInsertAll (reference order,
    // datalake.py:194-211), which would re-insert rows deleted later in
    // history — a real artifact of the reference's batched-CDC design
    // that MiniLakeSpec covers; here the oracle needs the clean result.
    process() // pass 3: v2 only
    docs.unpersist()

    // an all-empty bronze history yields no silver writes at all
    // (empty-range no-op, C-semantics) — read empty, not crash
    val silver = MiniLake(s, silverPath)
    (if (silver.exists) silver.snapshot()
     else MiniLake(s, bronzePath).snapshot().limit(0))
      .select("doc_id", "text", "lang", "source", "n_chars")
      .orderBy("doc_id")
  }

  val q19Oracle: String =
    """SELECT doc_id, text, lang, source, n_chars
      |FROM documents
      |WHERE doc_id < 400 AND doc_id % 7 <> 0
      |ORDER BY doc_id""".stripMargin

  /** The same incremental scenario against a hash-bucketed silver
    * (16 buckets on doc_id): identical observable result — the oracle
    * is the same SQL — but the delete pass rewrites only the buckets
    * its keys hash into instead of the whole table.
    */
  def q54BucketedCdc(s: SparkSession, dir: String): DataFrame = {
    val base = graft.Scratch.dir("graft_cdc_b").toString
    val bronzePath = s"$base/bronze/documents"
    val silverPath = s"$base/silver/documents"
    val wm = Watermark(s, s"$base/internal/watermark")

    val docs = documents(s, dir).filter(col("doc_id") < 400 ||
      col("doc_id") % 7 === 0).persist()
    val bronze = MiniLake(s, bronzePath)
    bronze.create(docs.filter(col("doc_id") < 400))

    def process(): Unit = {
      val upd = Cdc.readTableUpdate(s, bronzePath, wm, "pseudonymisation", "documents")
      Cdc.writeTableUpdate(s, upd, silverPath, Seq("doc_id"), wm,
        "pseudonymisation", "documents", bucketNumBuckets = Some(16))
    }

    process() // pass 1: create the bucketed silver from v0
    bronze.merge(
      inserts = MiniLake.emptyDf(s, bronze.schema),
      deletes = docs.filter(col("doc_id") % 7 === 0),
      pks = Seq("doc_id"))
    process() // pass 2: bucket-scoped delete merge (v1 only)
    docs.unpersist()

    val silver = MiniLake(s, silverPath)
    (if (silver.exists) silver.snapshot()
     else MiniLake(s, bronzePath).snapshot().limit(0))
      .select("doc_id", "text", "lang", "source", "n_chars")
      .orderBy("doc_id")
  }

  /** Daily-partitioned lake ingest + partition-pruned read: events
    * land in a `_p_day=<value>` layout over two commits, then a
    * 3-day report reads ONLY those partitions' files
    * (`snapshotWhere` prunes on the driver before any scan — at
    * 1000 daily partitions the report opens 3 directories, which is
    * the entire point of partitioning a 100 TB event table by day).
    * PartitionedLakeSpec asserts the pruning is physical
    * (inputFiles); this gate checks the numbers against the raw
    * table.
    */
  def q80PartitionedLake(s: SparkSession, dir: String): DataFrame = {
    val base = graft.Scratch.dir("graft_part").toString
    val path = s"$base/events_daily"
    val e = events(s, dir)
      .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
      .select("day", "event_id", "user_id", "event_type", "value")
    val t = MiniLake.partitioned(s, path, Seq("day"))
    t.create(e.filter(col("day") < "2024-01-15"))
    t.append(e.filter(col("day") >= "2024-01-15"))
    t.snapshotWhere(p => p("day") >= "2024-01-05" && p("day") <= "2024-01-07")
      .groupBy("day")
      .agg(count(lit(1)).as("n"),
        round(sum("value"), 2).cast("decimal(18,2)")
          .cast("double").as("total_value"))
      .orderBy("day")
  }

  val q80Oracle: String =
    """SELECT strftime(ts, '%Y-%m-%d') AS day, count(*) AS n,
      | CAST(CAST(round(sum(value), 2) AS DECIMAL(18,2)) AS DOUBLE)
      |   AS total_value
      |FROM events
      |WHERE strftime(ts, '%Y-%m-%d') BETWEEN '2024-01-05' AND '2024-01-07'
      |GROUP BY day
      |ORDER BY day""".stripMargin

  /** Time travel (S1): read version 1 of a table AFTER a later
    * delete-merge has rewritten it — the as-of snapshot must see the
    * pre-delete state (file-level log replay up to the requested
    * version), which the oracle states directly. The audit/debug
    * read every versioned lake exists to serve.
    */
  def q90TimeTravel(s: SparkSession, dir: String): DataFrame = {
    val base = graft.Scratch.dir("graft_tt").toString
    val t = MiniLake(s, s"$base/documents")
    val docs = documents(s, dir).select("doc_id", "lang", "n_chars")
    t.create(docs.filter(col("doc_id") < 200))            // v0
    t.append(docs.filter(col("doc_id") >= 200 && col("doc_id") < 400)) // v1
    t.merge(                                               // v2: deletes
      inserts = MiniLake.emptyDf(s, t.schema),
      deletes = docs.filter(col("doc_id") % 5 === 0),
      pks = Seq("doc_id"))
    t.snapshot(asOf = 1).orderBy("doc_id")
  }

  val q90Oracle: String =
    """SELECT doc_id, lang, n_chars FROM documents
      |WHERE doc_id < 400
      |ORDER BY doc_id""".stripMargin

  /** Stats-based data skipping as a gate: three time-ordered appends
    * give each commit's files a disjoint event_id range (recorded in
    * the commit log from the parquet footers); `snapshotForRange`
    * then serves an id-range lookup opening only the middle commit's
    * files. MiniLakeSpec proves the pruning is physical; this gate
    * proves the numbers.
    */
  def q91RangeSkipping(s: SparkSession, dir: String): DataFrame = {
    val base = graft.Scratch.dir("graft_skip").toString
    val t = MiniLake(s, s"$base/events")
    val e = events(s, dir)
      .select("event_id", "user_id", "event_type", "value")
    t.create(e.filter(col("event_id") < 3000))
    t.append(e.filter(col("event_id") >= 3000 && col("event_id") < 6000))
    t.append(e.filter(col("event_id") >= 6000))
    t.snapshotForRange("event_id", 4000L, 4999L)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        round(sum("value"), 2).cast("decimal(18,2)")
          .cast("double").as("total_value"))
      .orderBy("event_type")
  }

  val q91Oracle: String =
    """SELECT event_type, count(*) AS n,
      | CAST(CAST(round(sum(value), 2) AS DECIMAL(18,2)) AS DOUBLE)
      |   AS total_value
      |FROM events
      |WHERE event_id BETWEEN 4000 AND 4999
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** Z-ORDER clustering as a gate: the events table is rewritten
    * cluster-sorted on the interleaved (user_id, event_id) key
    * ([[graft.ops.Layout.zorderWrite]]), so every file's bounding
    * rectangle is tight in BOTH dimensions and the commit log's
    * multi-column stats serve a 2-D range query opening only the
    * files whose rectangles intersect it. q91 is the 1-D version of
    * this; a linear sort can only skip on its leading column.
    * ZorderSpec proves the pruning beats the linear layout
    * physically; this gate proves the numbers.
    */
  def q100Zorder2d(s: SparkSession, dir: String): DataFrame = {
    val base = graft.Scratch.dir("graft_zorder").toString
    val t = MiniLake(s, s"$base/events_z")
    val e = events(s, dir)
      .select("event_id", "user_id", "event_type", "value")
    t.create(graft.ops.Layout.zorderWrite(e, ("user_id", "event_id"), 16))
    t.snapshotForRanges(
      Map("user_id" -> (40L, 59L), "event_id" -> (2000L, 3999L)))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        round(sum("value"), 2).cast("decimal(18,2)")
          .cast("double").as("total_value"))
      .orderBy("event_type")
  }

  val q100Oracle: String =
    """SELECT event_type, count(*) AS n,
      | CAST(CAST(round(sum(value), 2) AS DECIMAL(18,2)) AS DOUBLE)
      |   AS total_value
      |FROM events
      |WHERE user_id BETWEEN 40 AND 59
      |  AND event_id BETWEEN 2000 AND 3999
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** OPTIMIZE ZORDER as a table LIFECYCLE verb (q100 writes the
    * z-layout at create; this gate REPAIRS a bad one): the events
    * table is ingested as four hash-interleaved appends — the
    * worst-case layout, every file's (user_id, event_id) stats span
    * the full domain, so the 2-D range probe can prune NOTHING —
    * then [[graft.lake.MiniLake.compactZorder]] rewrites it along
    * the Z-curve and the same probe answers from a handful of
    * tight-stats files. The gate checks the rewrite changed no row
    * (contents vs the plain-SQL oracle); MiniLakeSpec asserts the
    * pruning is physical (inputFiles shrink) and history records the
    * optimize.
    */
  def q223ZorderOptimize(s: SparkSession, dir: String): DataFrame = {
    val base = graft.Scratch.dir("graft_zopt").toString
    val t = MiniLake(s, s"$base/events_zopt")
    val e = events(s, dir)
      .select("event_id", "user_id", "event_type", "value")
    t.create(e.filter(pmod(col("event_id"), lit(4)) === 0))
    (1 to 3).foreach { k =>
      t.append(e.filter(pmod(col("event_id"), lit(4)) === k))
    }
    t.compactZorder(("user_id", "event_id"), 16)
    t.snapshotForRanges(
      Map("user_id" -> (40L, 59L), "event_id" -> (2000L, 3999L)))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        round(sum("value"), 2).cast("decimal(18,2)")
          .cast("double").as("total_value"))
      .orderBy("event_type")
  }

  val q223Oracle: String = q100Oracle

  /** Metadata-only RENAME COLUMN across a table's whole lifecycle
    * ([[graft.lake.MiniLake.renameColumn]], Delta column-mapping
    * semantics): ingest under the old name, rename (an instant log
    * append — zero files rewritten, MiniLakeSpec pins that), keep
    * ingesting under the NEW name, then run a COW delete whose
    * predicate uses the new name over the MIXED-era file set. The
    * final snapshot must read pre-rename files by their old physical
    * name and post-rename files by the new one — the per-era grouped
    * read the whole feature hangs on — and match the oracle stated
    * directly in renamed terms.
    */
  def q226RenameColumn(s: SparkSession, dir: String): DataFrame = {
    val base = graft.Scratch.dir("graft_rename").toString
    val t = MiniLake(s, s"$base/docs")
    val d = documents(s, dir).select("doc_id", "lang", "n_chars")
    t.create(d.filter(col("doc_id") < 200))
    t.append(d.filter(col("doc_id") >= 200 && col("doc_id") < 300))
    t.renameColumn("n_chars", "char_count")
    t.append(d.filter(col("doc_id") >= 300 && col("doc_id") < 400)
      .withColumnRenamed("n_chars", "char_count"))
    t.delete(col("char_count") % 10 === 0)
    t.snapshot().orderBy("doc_id")
  }

  val q226Oracle: String =
    """SELECT doc_id, lang, n_chars AS char_count FROM documents
      |WHERE doc_id < 400
      |  AND (n_chars % 10 <> 0 OR n_chars IS NULL)
      |ORDER BY doc_id""".stripMargin

  /** Metadata-only DROP COLUMN ([[graft.lake.MiniLake.dropColumn]]),
    * the complement verb: ingest wide, drop `text` (instant log
    * append — the 100 TB of dropped bytes are never rewritten OR
    * decoded again: parquet is columnar and reads select by name),
    * keep ingesting narrow, snapshot. Time travel at the pre-drop
    * version still serves the column — pinned in MiniLakeSpec with
    * the metadata-only file-count assert.
    */
  def q227DropColumn(s: SparkSession, dir: String): DataFrame = {
    val base = graft.Scratch.dir("graft_drop").toString
    val t = MiniLake(s, s"$base/docs")
    val d = documents(s, dir).select("doc_id", "text", "lang", "n_chars")
    t.create(d.filter(col("doc_id") < 200))
    t.dropColumn("text")
    t.append(d.filter(col("doc_id") >= 200 && col("doc_id") < 400)
      .drop("text"))
    t.snapshot().orderBy("doc_id")
  }

  val q227Oracle: String =
    """SELECT doc_id, lang, n_chars FROM documents
      |WHERE doc_id < 400
      |ORDER BY doc_id""".stripMargin

  /** String-column data skipping as a gate: the events table is
    * rewritten clustered by `event_type` (range partitioning gives
    * every file a tight string [min, max], recorded in the commit log
    * from the parquet footers), then a dictionary-range report reads
    * ONLY the files whose string range intersects ['error','purchase']
    * — the same skipping index as q91, extended to UTF8 columns. On a
    * 100 TB event table clustered by type/tenant/day-string this is
    * the difference between opening a handful of files and scanning
    * the world. MiniLakeSpec asserts the pruning is physical; this
    * gate proves the numbers.
    */
  def q101StringSkipping(s: SparkSession, dir: String): DataFrame = {
    val base = graft.Scratch.dir("graft_strskip").toString
    val t = MiniLake(s, s"$base/events_bytype")
    val e = events(s, dir)
      .select("event_id", "user_id", "event_type", "value")
      .repartitionByRange(8, col("event_type"), col("event_id"))
      .sortWithinPartitions("event_type", "event_id")
    t.create(e)
    t.snapshotForStringRange("event_type", "error", "purchase")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        round(sum("value"), 2).cast("decimal(18,2)")
          .cast("double").as("total_value"))
      .orderBy("event_type")
  }

  val q101Oracle: String =
    """SELECT event_type, count(*) AS n,
      | CAST(CAST(round(sum(value), 2) AS DECIMAL(18,2)) AS DOUBLE)
      |   AS total_value
      |FROM events
      |WHERE event_type BETWEEN 'error' AND 'purchase'
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** DELETE + rename + RESTORE lifecycle as a gate: create → predicate
    * DELETE (v1, change feed publishes delete preimages) → RENAME
    * COLUMN (v2, metadata-only) → RESTORE to v0 ACROSS the rename
    * (v3, a NEW commit whose change feed re-inserts exactly the
    * deleted rows UNDER THE CURRENT NAME — history is never rewound,
    * and the reverse rename mapping carries the pre-rename data into
    * the current schema). The report reads every version through time
    * travel AND tallies the change feed, so the oracle pins down
    * snapshot semantics, the rename-aware restore, and the row-level
    * CDF story at once.
    */
  def q109DeleteRestore(s: SparkSession, dir: String): DataFrame = {
    val base = graft.Scratch.dir("graft_delres").toString
    val t = MiniLake(s, s"$base/orders")
    val o = orders(s, dir)
      .select("o_orderkey", "o_orderstatus", "o_orderpriority")
      .filter(col("o_orderkey") % 4 === 0)
    t.create(o)                                  // v0
    t.delete(col("o_orderstatus") === "F")       // v1: copy-on-write
    t.renameColumn("o_orderstatus", "status")    // v2: metadata-only
    t.restoreTo(0)                               // v3: across the rename
    val snaps = Seq(0L, 1L, 2L, 3L).map { v =>
      val statusCol = if (v >= 2) col("status") else col("o_orderstatus")
      t.snapshot(asOf = v).agg(
        count(lit(1)).as("n_rows"),
        sum(when(statusCol === "F", 1L).otherwise(0L)).as("n_f"))
        .select(lit(v).as("version"), col("n_rows"), col("n_f"))
    }.reduce(_ unionByName _)
    val feed = t.readChanges(1, 3)
      .groupBy(col("_commit_version").cast("long").as("version"))
      .agg(
        sum(when(col("_change_type") === "delete", 1L).otherwise(0L))
          .as("n_del"),
        sum(when(col("_change_type") === "insert", 1L).otherwise(0L))
          .as("n_ins"))
    snaps.join(feed, Seq("version"), "left")
      .select(col("version"), col("n_rows"), col("n_f"),
        coalesce(col("n_del"), lit(0L)).as("n_del"),
        coalesce(col("n_ins"), lit(0L)).as("n_ins"))
      .orderBy("version")
  }

  val q109Oracle: String =
    """WITH sub AS (SELECT * FROM orders WHERE o_orderkey % 4 = 0),
      |c AS (SELECT count(*) AS t,
      |  CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
      |    AS BIGINT) AS f FROM sub)
      |SELECT CAST(0 AS BIGINT) AS version, t AS n_rows, f AS n_f,
      |  CAST(0 AS BIGINT) AS n_del, CAST(0 AS BIGINT) AS n_ins FROM c
      |UNION ALL SELECT 1, t - f, 0, f, 0 FROM c
      |UNION ALL SELECT 2, t - f, 0, 0, 0 FROM c
      |UNION ALL SELECT 3, t, f, 0, f FROM c
      |ORDER BY version""".stripMargin

  /** Merge-on-read deletion vectors end to end: create a lineitem
    * lake, `deleteVectored` a predicate (O(deleted rows) sidecar, zero
    * data files rewritten), read through the vectors, then
    * `materializeDeletes` and read again — both phases must report the
    * identical per-flag aggregate, and the CDF must carry exactly the
    * deleted rows. This is the delete shape a 100 TB table requires:
    * the COW alternative rewrites the table to drop a sliver.
    *
    * The oracle states the survivor aggregate twice (once per phase)
    * plus the delete count from the predicate — so a DV read that
    * leaked a deleted row, a materialize that dropped a survivor, or a
    * CDF that double-published all hash-mismatch.
    */
  def q163DeletionVectors(s: SparkSession, dir: String): DataFrame = {
    val base = graft.Scratch.dir("graft_dv").toString
    val t = MiniLake(s, s"$base/lineitem")
    t.create(lineitem(s, dir)
      .filter(col("l_orderkey") % 3 === 0)
      .select("l_orderkey", "l_linenumber", "l_returnflag", "l_quantity"))
    val doomed = col("l_quantity") < 10
    t.deleteVectored(doomed)                    // v1: sidecar only
    val nDel = t.readChanges(1, 1)
      .filter(col("_change_type") === "delete").count()
    def report(phase: String) = t.snapshot()
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
          .as("sum_qty"))
      .select(lit(phase).as("phase"), col("l_returnflag"), col("n"),
        col("sum_qty"), lit(nDel).as("n_deleted"))
    val dvPhase = report("dv")
    t.materializeDeletes()                      // v2: fold DVs away
    dvPhase.unionByName(report("materialized"))
      .orderBy("phase", "l_returnflag")
  }

  val q163Oracle: String =
    """WITH sub AS (SELECT * FROM lineitem WHERE l_orderkey % 3 = 0),
      |del AS (SELECT count(*) AS n_deleted FROM sub WHERE l_quantity < 10),
      |agg AS (SELECT l_returnflag, count(*) AS n,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      | FROM sub WHERE NOT l_quantity < 10 GROUP BY l_returnflag)
      |SELECT p.phase, a.l_returnflag, a.n, a.sum_qty, d.n_deleted
      |FROM agg a, del d,
      |  (SELECT 'dv' AS phase UNION ALL SELECT 'materialized') p
      |ORDER BY p.phase, a.l_returnflag""".stripMargin

  /** File-level Bloom skipping as a gate: the events table lands in
    * four interleaved appends (every file's event_id [min, max] spans
    * the whole domain — min/max stats keep everything), the Bloom
    * index is built in one aggregation pass, and a 5-id point lookup
    * reads only the files whose filters might hold those ids.
    * BloomIndexSpec proves the pruning physically; this gate pins the
    * numbers. At 100 TB this is the lookup path for "fetch these
    * specific documents/events by id" on layouts clustered by
    * something else — the case where sort-based skipping gives zero.
    */
  def q164BloomSkipping(s: SparkSession, dir: String): DataFrame = {
    val base = graft.Scratch.dir("graft_bloom").toString
    val t = MiniLake(s, s"$base/events")
    val e = events(s, dir)
      .select("event_id", "user_id", "event_type", "value")
    t.create(e.filter(col("event_id") % 4 === 0))
    (1 to 3).foreach(m => t.append(e.filter(col("event_id") % 4 === m)))
    t.buildBloomIndex("event_id")
    val probes = Seq(7L, 42L, 123L, 500L, 801L)
    t.snapshotForPoint("event_id", probes)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        round(sum("value"), 2).cast("decimal(18,2)")
          .cast("double").as("total_value"))
      .orderBy("event_type")
  }

  val q164Oracle: String =
    """SELECT event_type, count(*) AS n,
      | CAST(CAST(round(sum(value), 2) AS DECIMAL(18,2)) AS DOUBLE)
      |   AS total_value
      |FROM events
      |WHERE event_id IN (7, 42, 123, 500, 801)
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** UPDATE-matched MERGE end to end (q175): the upsert shape CDC
    * consumers feed a gold table with — matched PKs replace, absent
    * PKs insert, untouched rows stay, and the change feed tells the
    * row-level story (pre/postimage + insert). The oracle restates
    * the final table arithmetically AND pins the CDF counts, so a
    * double-apply, sign error, or missed branch hash-mismatches.
    */
  def q175MergeUpsert(s: SparkSession, dir: String): DataFrame = {
    val base = graft.Scratch.dir("graft_upsert").toString
    val t = MiniLake(s, s"$base/events")
    val e = events(s, dir).select(col("event_id"), col("event_type"),
      round(col("value") * 100).cast("long").as("cents"))
    t.create(e)
    val updates = e.filter(col("event_id") % 7 === 0)
      .withColumn("cents", col("cents") + 11L)
    val inserts = e.filter(col("event_id") % 13 === 0)
      .withColumn("event_id", col("event_id") + 10_000_000L)
      .withColumn("event_type", lit("replay"))
    val (nUpd, nIns) = t.mergeUpdate(updates.unionByName(inserts),
      Seq("event_id"))
    t.snapshot()
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("cents").as("total_cents"))
      .select(col("event_type"), col("n"), col("total_cents"),
        lit(nUpd).as("n_updated"), lit(nIns).as("n_inserted"))
      .orderBy("event_type")
  }

  val q175Oracle: String =
    """WITH base AS (SELECT event_id, event_type,
      |  CAST(round(value * 100) AS BIGINT) AS cents FROM events),
      |fin AS (
      |  SELECT event_id, event_type,
      |    CASE WHEN event_id % 7 = 0 THEN cents + 11 ELSE cents END
      |      AS cents
      |  FROM base
      |  UNION ALL
      |  SELECT event_id + 10000000, 'replay', cents FROM base
      |  WHERE event_id % 13 = 0),
      |cnt AS (SELECT
      |  (SELECT count(*) FROM base WHERE event_id % 7 = 0) AS n_updated,
      |  (SELECT count(*) FROM base WHERE event_id % 13 = 0) AS n_inserted)
      |SELECT event_type, count(*) AS n,
      |  CAST(sum(cents) AS BIGINT) AS total_cents, n_updated, n_inserted
      |FROM fin, cnt
      |GROUP BY event_type, n_updated, n_inserted
      |ORDER BY event_type""".stripMargin

  /** Shallow CLONE lifecycle (q176): clone the orders lake (metadata
    * only — zero data copied at any size), then DV-delete and append
    * on the CLONE; source and clone must report independently — the
    * clone sees its edits, the source stays bit-identical to its
    * pre-clone state. This is the clone-prod/experiment/diff/drop
    * workflow a 100 TB migration rehearsal runs. The source is
    * RENAMED before the clone (column-mapped): the clone entry
    * carries the rename chain + per-era physical schemas, so the
    * cloned pre-rename files must read their bytes under the new
    * logical name — never NULL — through the clone's own DV-delete.
    */
  def q176ShallowClone(s: SparkSession, dir: String): DataFrame = {
    val base = graft.Scratch.dir("graft_clone").toString
    val t = MiniLake(s, s"$base/orders")
    t.create(orders(s, dir)
      .select(col("o_orderkey"), col("o_orderstatus"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      .filter(col("o_orderkey") % 2 === 0))
    // column-map the source BEFORE cloning: every cloned data file is
    // now a pre-rename era whose physical column is still "cents"
    t.renameColumn("cents", "pennies")
    val c = MiniLake.shallowClone(s, s"$base/orders", s"$base/orders_c")
    c.deleteVectored(col("o_orderstatus") === "F")
    c.append(s.createDataFrame(
      java.util.List.of[org.apache.spark.sql.Row](
        org.apache.spark.sql.Row(-1L, "X", 100L)), c.schema))
    def report(side: String, lake: MiniLake) = lake.snapshot()
      .agg(count(lit(1)).as("n_rows"), sum("pennies").as("total_cents"))
      .select(lit(side).as("side"), col("n_rows"), col("total_cents"))
    report("clone", c).unionByName(report("source", t)).orderBy("side")
  }

  val q176Oracle: String =
    """WITH base AS (SELECT o_orderkey, o_orderstatus,
      |  CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      | FROM orders WHERE o_orderkey % 2 = 0)
      |SELECT 'clone' AS side,
      |  CAST((SELECT count(*) FROM base WHERE o_orderstatus <> 'F') + 1
      |    AS BIGINT) AS n_rows,
      |  CAST((SELECT sum(cents) FROM base WHERE o_orderstatus <> 'F')
      |    + 100 AS BIGINT) AS total_cents
      |UNION ALL
      |SELECT 'source', count(*), CAST(sum(cents) AS BIGINT) FROM base
      |ORDER BY side""".stripMargin

  /** DESCRIBE HISTORY as a gate (q177): a scripted lifecycle —
    * create, append, DV-delete, update-merge, OPTIMIZE — must leave
    * exactly the predicted audit trail: operations, file/DV deltas,
    * CDF flags, in order. Runs on a `compact` (one-file-per-commit)
    * lake so the file counts are layout-deterministic. The history
    * read is metadata-only — log entries, no data scan — which is
    * what makes it usable on a 100 TB table from a notebook.
    */
  def q177TableHistory(s: SparkSession, dir: String): DataFrame = {
    val base = graft.Scratch.dir("graft_hist").toString
    val t = MiniLake.compact(s, s"$base/orders")
    val o = orders(s, dir).select(col("o_orderkey"), col("o_orderstatus"))
    t.create(o.filter(col("o_orderkey") % 4 === 0))          // v0
    t.append(o.filter(col("o_orderkey") % 4 === 1))          // v1
    t.deleteVectored(col("o_orderstatus") === "F")           // v2
    t.mergeUpdate(o.filter(col("o_orderkey") % 8 === 0)      // v3
      .withColumn("o_orderstatus", lit("U")), Seq("o_orderkey"))
    t.compactFiles()                                         // v4
    t.history.drop("timestamp_ms").orderBy("version")
  }

  val q177Oracle: String =
    """SELECT * FROM (VALUES
      | (CAST(0 AS BIGINT), 'create',       CAST(1 AS BIGINT),
      |  CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT), TRUE),
      | (1, 'append',   1, 0, 0, 0, TRUE),
      | (2, 'delete-dv', 0, 0, 1, 0, TRUE),
      | (3, 'merge-update', 1, 2, 0, 1, TRUE),
      | (4, 'optimize', 1, 1, 0, 0, FALSE)
      |) AS t(version, operation, n_files_added, n_files_removed,
      |       n_dvs_added, n_dvs_removed, has_changes)
      |ORDER BY version""".stripMargin

  /** Long-lifecycle checkpointed open (q232): ~1,000 commits — 980
    * appends interleaved with deletes and OPTIMIZE rewrites — then a
    * COLD reopen (fresh instance, empty fold cache) must reconstruct
    * the exact table state. The reopen folds `_last_checkpoint` plus
    * at most [[MiniLake.CheckpointInterval]] tail entries instead of
    * all ~1,000 — and because checkpoints are multi-part with
    * retention-pruned change metadata, each of the ~98 checkpoints
    * written along the way is sized by LIVE state, never by history.
    * This is the property that keeps a year-old streaming-ingest
    * table (~500k commits) openable from a notebook. The emitted
    * numbers are closed-form, so the DuckDB oracle states them from
    * a `range()` reconstruction of the scripted lifecycle.
    */
  def q232CheckpointLifecycle(s: SparkSession, dir: String): DataFrame = {
    val base = graft.Scratch.dir("graft_ckpt").toString
    val path = s"$base/ledger"
    val t = MiniLake.compact(s, path)
    import s.implicits._
    t.create(Seq((0L, 0L)).toDF("k", "cents"))               // v0
    // ingest is MULTI-WRITER: 8 threads race appendConcurrent for
    // every version slot (the optimistic blind-append protocol), with
    // single-writer maintenance (DELETE / OPTIMIZE) at the barriers
    // between bursts — the shape of N streaming jobs feeding one
    // table with a nightly maintenance window
    val nWriters = 8
    // identical rows/schema to `Seq((k, v)).toDF("k", "cents")`, built
    // via createDataFrame on a shared StructType: the toDF form pays a
    // fresh ScalaReflection/encoder derivation per commit — at ~1,000
    // commits that fixed cost dominated the gate (q232 profiler)
    val rowSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("cents",
        org.apache.spark.sql.types.LongType, nullable = false)))
    def rowDf(k: Long): org.apache.spark.sql.DataFrame =
      s.createDataFrame(java.util.List.of(
        org.apache.spark.sql.Row(k, k * 37L % 1000L): org.apache.spark.sql.Row),
        rowSchema)
    def appendBlock(lo: Long, hi: Long): Unit = {
      val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]
      val threads = (0 until nWriters).map { w =>
        new Thread(() => {
          try {
            val mine = MiniLake.compact(s, path)
            var k = lo + w
            while (k <= hi) {
              mine.appendConcurrent(rowDf(k))
              k += nWriters
            }
          } catch { case e: Throwable => failure.compareAndSet(null, e) }
        })
      }
      threads.foreach(_.start()); threads.foreach(_.join())
      if (failure.get() != null) throw failure.get()
    }
    appendBlock(1L, 250L);   t.delete(col("k") % 10 === 3)
    appendBlock(251L, 500L); t.delete(col("k") % 10 === 3)
    t.compactFiles()
    appendBlock(501L, 750L); t.delete(col("k") % 10 === 3)
    appendBlock(751L, 980L); t.compactFiles()
    // cold reopen: a FRESH instance with an empty fold cache — this
    // read goes through checkpoint + tail, not a ~986-entry fold
    val fresh = MiniLake(s, path)
    fresh.snapshot().agg(
        count(lit(1)).as("n_rows"),
        sum("cents").cast("long").as("total_cents"),
        max("k").as("max_k"))
      .select(lit(fresh.latestVersion).as("last_version"),
        col("n_rows"), col("total_cents"), col("max_k"))
  }

  // commits: v0 create + 980 appends + 3 deletes + 2 optimizes =
  // last_version 985 (append ORDER is racy; the commit COUNT and the
  // final content are not). k % 10 == 3 rows appended at or before
  // the third barrier (k ≤ 750) were purged; later ones survive.
  val q232Oracle: String =
    """WITH ks AS (SELECT unnest(range(0, 981)) AS k),
      |live AS (SELECT k, (k * 37) % 1000 AS cents FROM ks
      |  WHERE k % 10 <> 3 OR k > 750)
      |SELECT CAST(985 AS BIGINT) AS last_version,
      |  CAST(count(*) AS BIGINT) AS n_rows,
      |  CAST(sum(cents) AS BIGINT) AS total_cents,
      |  CAST(max(k) AS BIGINT) AS max_k
      |FROM live""".stripMargin

  /** Change-data retention boundary as a gate (q254): with the
    * retention horizon forced to zero, every checkpoint prunes ALL
    * change metadata at or before its own wall-clock — so after a
    * lifecycle crossing one checkpoint, a COLD open must (a) report
    * the advanced floor, (b) REFUSE a CDF read below it with the
    * explicit retention error (never a silently partial feed),
    * (c) still serve the feed at/above the floor, and (d) read
    * snapshots untouched. The numbers are closed-form, so the oracle
    * states them. This is the Delta earliest-available-CDF contract
    * made driver-visible.
    */
  def q254ChangeRetention(s: SparkSession, dir: String): DataFrame = {
    val base = graft.Scratch.dir("graft_retn").toString
    import s.implicits._
    s.conf.set("graft.lake.changeRetentionMillis", "0")
    try {
      val t = MiniLake.compact(s, s"$base/ledger")
      t.create(Seq((0L, 0L)).toDF("k", "cents"))            // v0
      for (i <- 1L to 11L)
        t.append(Seq((i, i * 7L)).toDF("k", "cents"))       // v1..v11
      // the checkpoint at v10 pruned every change ref ≤ v10
      val fresh = MiniLake(s, s"$base/ledger")
      val floor = fresh.changeRetentionFloor
      val refused =
        try { fresh.readChanges(0, fresh.latestVersion).count(); false }
        catch { case _: IllegalStateException => true }
      val nRecent = fresh.readChanges(floor, fresh.latestVersion).count()
      fresh.snapshot().agg(
          count(lit(1)).as("n_rows"),
          sum("cents").cast("long").as("total_cents"))
        .select(lit(fresh.latestVersion).as("last_version"),
          lit(floor).as("retention_floor"),
          lit(refused).as("below_floor_refused"),
          lit(nRecent).as("n_recent_changes"),
          col("n_rows"), col("total_cents"))
    } finally s.conf.unset("graft.lake.changeRetentionMillis")
  }

  // v0 create + 11 appends → last_version 11; the v10 checkpoint
  // prunes refs ≤ 10 → floor 11; the feed at [11, 11] is one insert;
  // cents total = 7·Σ(0..11) = 462
  val q254Oracle: String =
    """SELECT CAST(11 AS BIGINT) AS last_version,
      |  CAST(11 AS BIGINT) AS retention_floor,
      |  TRUE AS below_floor_refused,
      |  CAST(1 AS BIGINT) AS n_recent_changes,
      |  CAST(12 AS BIGINT) AS n_rows,
      |  CAST(462 AS BIGINT) AS total_cents""".stripMargin

  /** Column re-add with per-era identity as a gate (q255): a lake
    * table of documents drops its `lang` column (metadata-only
    * tombstone), then a mergeSchema append RE-ADDS the name with
    * fresh rows — Delta column mapping's fresh-physical-id semantics.
    * Pre-drop rows must read NULL for the reborn column (the retired
    * incarnation's bytes never resurface) while post-re-add rows
    * carry data; the per-lang report makes both eras visible and the
    * oracle reconstructs them from the raw table.
    */
  def q255ColumnReadd(s: SparkSession, dir: String): DataFrame = {
    val base = graft.Scratch.dir("graft_readd").toString
    val t = MiniLake(s, s"$base/docs")
    val d = documents(s, dir).select("doc_id", "lang", "n_chars")
    t.create(d.filter(col("doc_id") < 300))                 // v0
    t.dropColumn("lang")                                    // v1
    t.append(d.filter(col("doc_id") >= 300 && col("doc_id") < 400),
      mergeSchema = true)                                   // v2: reborn
    MiniLake(s, s"$base/docs").snapshot()
      .groupBy(coalesce(col("lang"), lit("(retired)")).as("lang"))
      .agg(count(lit(1)).as("n"),
        sum("n_chars").cast("long").as("total_chars"))
      .orderBy("lang")
  }

  val q255Oracle: String =
    """SELECT CASE WHEN doc_id < 300 THEN '(retired)' ELSE lang END
      |    AS lang,
      |  count(*) AS n,
      |  CAST(sum(n_chars) AS BIGINT) AS total_chars
      |FROM documents WHERE doc_id < 400
      |GROUP BY 1 ORDER BY lang""".stripMargin

  /** GENERATED ALWAYS AS IDENTITY as a gate (q262): a table declared
    * with `row_id` (START 100 STEP 10) takes three sorted insert
    * batches — create, append, and an append through a COLD-reopened
    * handle (high water recovered from the log, not instance state) —
    * with a row-DELETE between batches 2 and 3. Ids must be assigned
    * in batch-then-key order, continue across the reopen, and NEVER
    * be reused after the delete (the burned ids stay burned — the
    * Delta identity contract). The oracle reconstructs every id in
    * closed form as 90 + 10·rank over (batch, key) and applies the
    * same delete, so any reuse, gap error, or reopen miscount breaks
    * the hash.
    */
  def q262IdentityColumn(s: SparkSession, dir: String): DataFrame = {
    val base = graft.Scratch.dir("graft_ident").toString
    val d = orders(s, dir).select("o_orderkey", "o_totalprice")
    val t = MiniLake.identity(s, s"$base/orders", "row_id",
      start = 100L, step = 10L)
    // each batch is globally sorted on the key, so assignment order
    // (and therefore every id) is deterministic — the documented
    // caller contract for reproducible identity values
    t.create(d.filter(col("o_orderkey") < 2000).orderBy("o_orderkey"))
    t.append(d.filter(col("o_orderkey") >= 2000 &&
      col("o_orderkey") < 4000).orderBy("o_orderkey"))
    t.delete(col("o_totalprice") > 200000)
    // cold reopen: the third batch's ids must continue from the
    // log-recovered high water, past the deleted rows' burned ids
    val fresh = MiniLake(s, s"$base/orders")
    fresh.append(d.filter(col("o_orderkey") >= 4000 &&
      col("o_orderkey") < 6000).orderBy("o_orderkey"))
    fresh.snapshot()
      .groupBy(when(col("o_orderkey") < 2000, 1)
        .when(col("o_orderkey") < 4000, 2).otherwise(3).as("batch"))
      .agg(count(lit(1)).as("n"),
        min("row_id").as("min_id"), max("row_id").as("max_id"),
        sum("row_id").cast("long").as("sum_id"))
      .orderBy("batch")
  }

  val q262Oracle: String =
    """WITH ins AS (SELECT o_orderkey, o_totalprice,
      |  CASE WHEN o_orderkey < 2000 THEN 1
      |       WHEN o_orderkey < 4000 THEN 2 ELSE 3 END AS b
      | FROM orders WHERE o_orderkey < 6000),
      |ranked AS (SELECT b, o_totalprice,
      |  90 + 10 * row_number() OVER (ORDER BY b, o_orderkey) AS row_id
      | FROM ins),
      |live AS (SELECT * FROM ranked
      | WHERE NOT (b <= 2 AND o_totalprice > 200000))
      |SELECT b AS batch, count(*) AS n,
      |  CAST(min(row_id) AS BIGINT) AS min_id,
      |  CAST(max(row_id) AS BIGINT) AS max_id,
      |  CAST(sum(row_id) AS BIGINT) AS sum_id
      |FROM live GROUP BY b ORDER BY batch""".stripMargin

  /** Identity under CONCURRENT append (q280) — Delta's id-range
    * reservation: each racing writer durably claims
    * `[hwm+step, hwm+n·step]` in a metadata-only commit BEFORE its
    * distributed data write, so version-claim arbitration (not luck)
    * guarantees no two writers ever hold overlapping ranges. Three
    * writers race disjoint order slices; a single-writer MERGE then
    * continues the sequence, assigning ids only to rows that actually
    * insert (a re-inserted PK is an idempotent no-op and consumes
    * nothing). The per-row id→order mapping is scheduling-dependent,
    * but the AGGREGATES are closed form: contiguous coverage 1..N
    * regardless of interleaving, so count/distinct/min/max/sum are
    * all exact — that order-independence is itself the property under
    * test.
    */
  def q280IdentityConcurrent(s: SparkSession, dir: String): DataFrame = {
    val base = graft.Scratch.dir("graft_identcc").toString
    val d = orders(s, dir).select("o_orderkey", "o_totalprice")
    val t = MiniLake.identity(s, s"$base/orders", "row_id")
    t.create(d.filter(col("o_orderkey") % 4 === 0).orderBy("o_orderkey"))
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val writers = (1 to 3).map { w =>
      Future {
        MiniLake(s, s"$base/orders").appendConcurrent(
          d.filter(col("o_orderkey") % 4 === w).orderBy("o_orderkey"))
      }
    }
    Await.result(Future.sequence(writers), Duration.Inf)
    // merge after the races: 2 fresh rows insert (ids N+1, N+2 in
    // sort order), 1 existing PK re-inserts as a no-op (consumes no id)
    val extra = s.createDataFrame(
      java.util.List.of[org.apache.spark.sql.Row](
        org.apache.spark.sql.Row(-2L, 0.0),
        org.apache.spark.sql.Row(-1L, 0.0),
        org.apache.spark.sql.Row(4L, 0.0)),
      d.schema).orderBy("o_orderkey")
    val fresh = MiniLake(s, s"$base/orders")
    fresh.merge(inserts = extra,
      deletes = MiniLake.emptyDf(s, d.schema), pks = Seq("o_orderkey"))
    fresh.snapshot().agg(count(lit(1)).as("n_rows"),
      countDistinct(col("row_id")).as("n_distinct_ids"),
      min("row_id").as("min_id"), max("row_id").as("max_id"),
      sum("row_id").cast("long").as("sum_id"))
  }

  val q280Oracle: String =
    """WITH c AS (SELECT count(*) + 2 AS n FROM orders)
      |SELECT n AS n_rows, n AS n_distinct_ids,
      |  CAST(1 AS BIGINT) AS min_id, n AS max_id,
      |  CAST(n * (n + 1) / 2 AS BIGINT) AS sum_id
      |FROM c""".stripMargin

  /** GENERATED ALWAYS AS column as the PARTITION key (q234) — the
    * Delta generated-column flagship: the table declares
    * `day = date_format(ts, 'yyyy-MM-dd')` at create time, callers
    * append RAW event batches (no day column anywhere in the caller's
    * code), and the engine computes the derived day on every write —
    * so the value-partitioned layout, driver-side partition pruning,
    * and the implicit CHECK validating any caller-supplied value all
    * come from one declaration. The 3-day report reads through
    * `snapshotWhere`, so the pruning path is load-bearing for the
    * oracle match.
    */
  def q234GeneratedPartition(s: SparkSession, dir: String): DataFrame = {
    val base = graft.Scratch.dir("graft_gen").toString
    val t = MiniLake.generated(s, s"$base/events",
      generatedCols = Seq("day" -> "date_format(ts, 'yyyy-MM-dd')"),
      partitionCols = Seq("day"))
    val e = events(s, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"), col("ts").cast("timestamp").as("ts"))
    t.create(e.filter(col("event_id") % 2 === 0))
    t.append(e.filter(col("event_id") % 2 === 1))
    t.snapshotWhere(p =>
        p("day") >= "2024-01-05" && p("day") <= "2024-01-07")
      .groupBy("day")
      .agg(count(lit(1)).as("n"),
        round(sum("value"), 2).cast("decimal(18,2)")
          .cast("double").as("total_value"))
      .orderBy("day")
  }

  val q234Oracle: String =
    """SELECT strftime(ts, '%Y-%m-%d') AS day, count(*) AS n,
      | CAST(CAST(round(sum(value), 2) AS DECIMAL(18,2)) AS DOUBLE)
      |   AS total_value
      |FROM events
      |WHERE strftime(ts, '%Y-%m-%d') BETWEEN '2024-01-05' AND '2024-01-07'
      |GROUP BY day
      |ORDER BY day""".stripMargin

  /** Partition-scoped overwrite as a gate (q272) — Delta
    * `replaceWhere`: two days of a day-partitioned events table are
    * atomically RESTATED (values doubled, odd event_ids dropped —
    * fewer rows out than in, so the delete/insert asymmetry is
    * visible), other days' files untouched in place. The Delta
    * constraint check is probed too: a batch carrying a row OUTSIDE
    * the replaced set must be refused before any write. Read-back
    * goes through a COLD reopen and the partition-pruned
    * `snapshotWhere`, so pruning over the restated layout is
    * load-bearing for the oracle match.
    */
  def q272ReplaceWhere(s: SparkSession, dir: String): DataFrame = {
    val base = graft.Scratch.dir("graft_replw").toString
    val t = MiniLake.generated(s, s"$base/events",
      generatedCols = Seq("day" -> "date_format(ts, 'yyyy-MM-dd')"),
      partitionCols = Seq("day"))
    val e = events(s, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"), col("ts").cast("timestamp").as("ts"))
    t.create(e)
    val day = date_format(col("ts"), "yyyy-MM-dd")
    val inSet = (p: Map[String, String]) =>
      p("day") >= "2024-01-05" && p("day") <= "2024-01-06"
    val corrected = e
      .filter(day.between("2024-01-05", "2024-01-06") &&
        col("event_id") % 2 === 0)
      .withColumn("value", col("value") * 2)
    val (nIns, nDel) = t.replacePartitions(inSet, corrected)
    // Delta's replaceWhere constraint: out-of-set rows are refused
    val refused =
      try {
        t.replacePartitions(inSet,
          e.filter(day === "2024-01-07").limit(5))
        false
      } catch { case _: IllegalArgumentException => true }
    val fresh = MiniLake(s, s"$base/events")
    fresh.snapshotWhere(p =>
        p("day") >= "2024-01-04" && p("day") <= "2024-01-07")
      .groupBy("day")
      .agg(count(lit(1)).as("n"),
        round(sum("value"), 2).cast("decimal(18,2)")
          .cast("double").as("total_value"))
      .select(col("day"), col("n"), col("total_value"),
        lit(nIns).as("n_inserted"), lit(nDel).as("n_deleted"),
        lit(refused).as("outside_refused"))
      .orderBy("day")
  }

  val q272Oracle: String =
    """WITH e AS (SELECT event_id, value,
      |  strftime(ts, '%Y-%m-%d') AS day FROM events),
      |restated AS (
      |  SELECT day, value FROM e
      |  WHERE day NOT BETWEEN '2024-01-05' AND '2024-01-06'
      |  UNION ALL
      |  SELECT day, value * 2 AS value FROM e
      |  WHERE day BETWEEN '2024-01-05' AND '2024-01-06'
      |    AND event_id % 2 = 0),
      |meta AS (SELECT
      |  CAST(sum(CASE WHEN day BETWEEN '2024-01-05' AND '2024-01-06'
      |    AND event_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_inserted,
      |  CAST(sum(CASE WHEN day BETWEEN '2024-01-05' AND '2024-01-06'
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_deleted
      | FROM e)
      |SELECT day, count(*) AS n,
      |  CAST(CAST(round(sum(value), 2) AS DECIMAL(18,2)) AS DOUBLE)
      |    AS total_value,
      |  (SELECT n_inserted FROM meta) AS n_inserted,
      |  (SELECT n_deleted FROM meta) AS n_deleted,
      |  TRUE AS outside_refused
      |FROM restated
      |WHERE day BETWEEN '2024-01-04' AND '2024-01-07'
      |GROUP BY day ORDER BY day""".stripMargin

  /** Reader protocol versioning as a gate (q275) — the Delta
    * minReaderVersion contract: a table's log is stamped with the
    * running max of the features it uses (plain log = 1, deletion
    * vectors = 2, column mapping = 3), and a reader that supports
    * LESS must refuse with an upgrade error instead of reading wrong
    * data (an old reader ignoring deletion vectors would resurrect
    * deleted rows; ignoring column mapping would resurrect dropped
    * bytes; ignoring initial defaults would read NULL where the
    * declared default belongs — defaults are READER-affecting because
    * pre-add files are filled at read time). The gate walks a
    * lifecycle through all four protocol levels, then probes refusal
    * at simulated reader capabilities 1, 2 and 3 (session-conf
    * override) and full readability at 4 — every flag closed form.
    */
  def q275ProtocolVersion(s: SparkSession, dir: String): DataFrame = {
    val base = graft.Scratch.dir("graft_proto").toString
    import s.implicits._
    val t = MiniLake.compact(s, s"$base/ledger")
    t.create(Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("k", "cents"))
    val p0 = t.protocolVersion                         // 1: plain log
    t.deleteVectored(col("k") === 2L)
    val p1 = t.protocolVersion                         // 2: DVs
    t.renameColumn("cents", "pennies")
    val p2 = t.protocolVersion                         // 3: col mapping
    t.addColumn("tier", "STRING", "'base'")
    val p3 = t.protocolVersion                         // 4: defaults
    def refusedAt(cap: Int): Boolean = {
      s.conf.set("graft.lake.maxSupportedReader", cap.toString)
      try { MiniLake(s, s"$base/ledger").snapshot().count(); false }
      catch { case _: IllegalStateException => true }
      finally s.conf.unset("graft.lake.maxSupportedReader")
    }
    val r1 = refusedAt(1)
    val r2 = refusedAt(2)
    val r3 = refusedAt(3)
    val fresh = MiniLake(s, s"$base/ledger") // full reader: works
    fresh.snapshot().agg(count(lit(1)).as("n_rows"),
        sum("pennies").cast("long").as("total"),
        count(when(col("tier") === "base", 1)).as("n_defaulted"))
      .select(lit(p0).as("proto_create"), lit(p1).as("proto_after_dv"),
        lit(p2).as("proto_after_rename"),
        lit(p3).as("proto_after_default"),
        lit(r1).as("refused_at_1"), lit(r2).as("refused_at_2"),
        lit(r3).as("refused_at_3"),
        col("n_rows"), col("total"), col("n_defaulted"))
  }

  val q275Oracle: String =
    """SELECT CAST(1 AS BIGINT) AS proto_create,
      |  CAST(2 AS BIGINT) AS proto_after_dv,
      |  CAST(3 AS BIGINT) AS proto_after_rename,
      |  CAST(4 AS BIGINT) AS proto_after_default,
      |  TRUE AS refused_at_1, TRUE AS refused_at_2,
      |  TRUE AS refused_at_3,
      |  CAST(2 AS BIGINT) AS n_rows,
      |  CAST(40 AS BIGINT) AS total,
      |  CAST(2 AS BIGINT) AS n_defaulted""".stripMargin

  /** Timestamp time travel as a gate (q277) — Delta's
    * `TIMESTAMP AS OF`: an instant resolves to the LATEST version
    * committed at or before it (commit stamps are non-decreasing by
    * publish order), an instant before the first commit is an
    * explicit error, and the resolved snapshot is exactly the
    * version-addressed one. The gate spaces three commits a few tens
    * of ms apart (distinct stamps guaranteed), then reads each
    * commit's own recorded stamp back through [[MiniLake.history]] —
    * every resolution and row count is closed form.
    */
  def q277TimestampTravel(s: SparkSession, dir: String): DataFrame = {
    val base = graft.Scratch.dir("graft_tstravel").toString
    import s.implicits._
    val t = MiniLake.compact(s, s"$base/ledger")
    t.create(Seq((1L, 10L)).toDF("k", "cents"))            // v0
    Thread.sleep(25)
    t.append(Seq((2L, 20L)).toDF("k", "cents"))            // v1
    Thread.sleep(25)
    t.append(Seq((3L, 30L)).toDF("k", "cents"))            // v2
    val ts = t.history.select("version", "timestamp_ms")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val v0 = t.versionAt(ts(0L))
    val v1 = t.versionAt(ts(1L))
    // an instant BETWEEN commits resolves backward, like Delta
    val vMid = t.versionAt(ts(2L) - 1)
    val v2 = t.versionAt(ts(2L))
    val beforeRefused =
      try { t.versionAt(ts(0L) - 1); false }
      catch { case _: IllegalArgumentException => true }
    val nAt1 = t.snapshotAt(ts(1L)).count()
    t.snapshot().agg(count(lit(1)).as("n_now"),
        sum("cents").cast("long").as("total_now"))
      .select(lit(v0).as("v_at_ts0"), lit(v1).as("v_at_ts1"),
        lit(vMid).as("v_between_1_2"), lit(v2).as("v_at_ts2"),
        lit(beforeRefused).as("before_first_refused"),
        lit(nAt1).as("n_rows_at_ts1"), col("n_now"), col("total_now"))
  }

  val q277Oracle: String =
    """SELECT CAST(0 AS BIGINT) AS v_at_ts0,
      |  CAST(1 AS BIGINT) AS v_at_ts1,
      |  CAST(1 AS BIGINT) AS v_between_1_2,
      |  CAST(2 AS BIGINT) AS v_at_ts2,
      |  TRUE AS before_first_refused,
      |  CAST(2 AS BIGINT) AS n_rows_at_ts1,
      |  CAST(3 AS BIGINT) AS n_now,
      |  CAST(60 AS BIGINT) AS total_now""".stripMargin

  /** ADD COLUMN with INITIAL DEFAULT as a gate (q278) — Iceberg's
    * initial-default semantics plus the Delta write-default: a
    * metadata-only add (zero data rewritten) after which THREE eras
    * coexist and must read correctly through one snapshot:
    * pre-add rows read the initial default ('unrated'), a post-add
    * batch with EXPLICIT values keeps them — including genuine NULLs,
    * which must stay NULL, never the default — and a post-add batch
    * OMITTING the column gets the default materialized at write. The
    * gate reads through a COLD reopen (the cumulative default map is
    * recovered from the latest entry, O(1)); the oracle reconstructs
    * all three eras from the raw table.
    */
  def q278DefaultColumn(s: SparkSession, dir: String): DataFrame = {
    val base = graft.Scratch.dir("graft_defcol").toString
    val t = MiniLake(s, s"$base/docs")
    val d = documents(s, dir).select("doc_id", "lang", "n_chars")
    t.create(d.filter(col("doc_id") < 300))                   // v0
    t.addColumn("quality_tier", "STRING", "'unrated'")        // v1
    t.append(d.filter(col("doc_id") >= 300 && col("doc_id") < 400)
      .withColumn("quality_tier",
        when(col("lang") === "en", "gold")))                  // v2
    val fresh = MiniLake(s, s"$base/docs")
    fresh.append(d.filter(col("doc_id") >= 400 &&
      col("doc_id") < 450))                                   // v3: omits
    fresh.snapshot()
      .groupBy(coalesce(col("quality_tier"), lit("(null)")).as("tier"))
      .agg(count(lit(1)).as("n"),
        sum("n_chars").cast("long").as("total_chars"))
      .orderBy("tier")
  }

  val q278Oracle: String =
    """SELECT CASE
      |    WHEN doc_id < 300 THEN 'unrated'
      |    WHEN doc_id < 400 AND lang = 'en' THEN 'gold'
      |    WHEN doc_id < 400 THEN '(null)'
      |    ELSE 'unrated' END AS tier,
      |  count(*) AS n,
      |  CAST(sum(n_chars) AS BIGINT) AS total_chars
      |FROM documents WHERE doc_id < 450
      |GROUP BY 1 ORDER BY tier""".stripMargin

  /** Type widening as a gate (q279) — Delta 4.x / Iceberg type
    * promotion on mergeSchema append: INT→BIGINT lands as a METADATA
    * commit (zero data rewritten; the 100 TB argument is the same as
    * rename's — evolving a type must not rewrite history), after
    * which THREE write shapes coexist and must read exactly through
    * one snapshot: pre-widening INT files upcast at read, the
    * widening BIGINT batch stores wide values, and a still-narrow
    * producer's later INT batch upcasts at write. Probes: the widened
    * schema, the pre-widen era schema via time travel metadata, a
    * COLD-reopen aggregate over all eras, and the CDF read across the
    * boundary (old change slices conform to the wide schema). Oracle
    * reconstructs every era from the raw table in closed form.
    */
  def q279TypeWidening(s: SparkSession, dir: String): DataFrame = {
    val base = graft.Scratch.dir("graft_widen").toString
    val t = MiniLake(s, s"$base/items")
    val li = lineitem(s, dir).select(
      (col("l_orderkey") * 10 + col("l_linenumber")).as("item_id"),
      col("l_quantity").cast("int").as("qty"))
    t.create(li.filter(col("item_id") % 3 === 0))            // v0: INT era
    t.append(li.filter(col("item_id") % 3 === 1)
        .withColumn("qty", col("qty").cast("long") * 100000000L),
      mergeSchema = true)                                    // v1: BIGINT
    t.append(li.filter(col("item_id") % 3 === 2),
      mergeSchema = true)                                    // v2: narrow in
    val widened = t.schema("qty").dataType ==
      org.apache.spark.sql.types.LongType
    val narrowAtV0 = t.schemaAt(0)("qty").dataType ==
      org.apache.spark.sql.types.IntegerType
    val cdfTotal = t.readChanges(0, 2)
      .agg(coalesce(sum("qty").cast("long"), lit(0L))).head.getLong(0)
    val fresh = MiniLake(s, s"$base/items")                  // cold reopen
    fresh.snapshot().agg(count(lit(1)).as("n_rows"),
        sum("qty").cast("long").as("total_qty"),
        max("qty").cast("long").as("max_qty"))
      .select(lit(widened).as("widened"),
        lit(narrowAtV0).as("narrow_at_v0"),
        col("n_rows"), col("total_qty"), col("max_qty"),
        lit(cdfTotal).as("cdf_total"))
  }

  val q279Oracle: String =
    """WITH it AS (SELECT l_orderkey * 10 + l_linenumber AS item_id,
      |  CAST(l_quantity AS INT) AS qty FROM lineitem),
      |w AS (SELECT CASE WHEN item_id % 3 = 1
      |  THEN CAST(qty AS BIGINT) * 100000000
      |  ELSE CAST(qty AS BIGINT) END AS q FROM it)
      |SELECT TRUE AS widened, TRUE AS narrow_at_v0,
      |  count(*) AS n_rows, CAST(sum(q) AS BIGINT) AS total_qty,
      |  CAST(max(q) AS BIGINT) AS max_qty,
      |  CAST(sum(q) AS BIGINT) AS cdf_total
      |FROM w""".stripMargin

  /** VACUUM DRY RUN as a gate (q283) — Delta's audit verb for the one
    * operation time travel cannot undo: a lifecycle that strands
    * exactly one reclaimable file (the overwrite's data file — the
    * create/append files are insertsFromData change feed and stay
    * protected, the change files are entry-listed and stay protected),
    * then (a) DRY RUN lists it WITHOUT deleting — every listed file
    * still on disk, reads unchanged — and (b) the real vacuum removes
    * exactly the listed set and nothing else, reads still unchanged.
    * All flags and the post-vacuum aggregate are closed form.
    */
  def q283VacuumDryRun(s: SparkSession, dir: String): DataFrame = {
    val base = graft.Scratch.dir("graft_vacdry").toString
    val t = MiniLake.compact(s, s"$base/orders")
    val o = orders(s, dir).select(col("o_orderkey"), col("o_orderstatus"),
      round(col("o_totalprice") * 100).cast("long").as("cents"))
    t.create(o.filter(col("o_orderkey") % 2 === 0))       // v0: f0 (CDF)
    t.overwrite(o.filter(col("o_orderkey") % 2 === 0))    // v1: f1
    t.append(o.filter(col("o_orderkey") % 2 === 1))       // v2: f2 (CDF)
    t.delete(col("o_orderstatus") === "F")                // v3: f3; f1,f2 stale
    val dry = t.vacuumDryRun(retainMillis = 0L)
    val dryDeletedNothing = dry.forall(p =>
      Files.exists(java.nio.file.Paths.get(p)))
    val rowsAfterDry = t.snapshot().count()
    t.vacuum(retainMillis = 0L)
    val vacuumedExactly = dry.forall(p =>
      !Files.exists(java.nio.file.Paths.get(p)))
    val fresh = MiniLake(s, s"$base/orders")               // cold reopen
    fresh.snapshot().agg(count(lit(1)).as("n_rows"),
        sum("cents").cast("long").as("total_cents"))
      .select(lit(dry.size.toLong).as("n_reclaimable"),
        lit(dryDeletedNothing).as("dry_run_deleted_nothing"),
        lit(vacuumedExactly).as("vacuum_removed_exactly_listed"),
        lit(rowsAfterDry).as("n_rows_after_dry"),
        col("n_rows"), col("total_cents"))
  }

  val q283Oracle: String =
    """WITH base AS (SELECT o_orderstatus,
      |  CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders)
      |SELECT CAST(1 AS BIGINT) AS n_reclaimable,
      |  TRUE AS dry_run_deleted_nothing,
      |  TRUE AS vacuum_removed_exactly_listed,
      |  CAST((SELECT count(*) FROM base WHERE o_orderstatus <> 'F')
      |    AS BIGINT) AS n_rows_after_dry,
      |  CAST(count(*) AS BIGINT) AS n_rows,
      |  CAST(sum(cents) AS BIGINT) AS total_cents
      |FROM base WHERE o_orderstatus <> 'F'""".stripMargin

  /** Concurrent row-level DELETE (q284) — [[MiniLake.
    * deleteVectored]]: three writers race merge-on-read
    * deletes confined to disjoint partitions (disjoint deletion-vector
    * target files → Delta's WriteSerializable rules let every sidecar
    * publish without invalidation; DeletionVectorSpec covers the
    * conflicting arms deterministically through the test seam). The
    * union of the three deletes and each version's CDF preimages are
    * closed form regardless of commit interleaving — that
    * order-independence is the property under test, the same way q280
    * gates identity reservations.
    */
  def q284ConcurrentDvDelete(s: SparkSession, dir: String): DataFrame = {
    val base = graft.Scratch.dir("graft_dvcc").toString
    val t = MiniLake.partitioned(s, s"$base/orders",
      Seq("o_orderstatus"))
    val o = orders(s, dir).select(col("o_orderkey"),
      col("o_orderstatus"),
      round(col("o_totalprice") * 100).cast("long").as("cents"))
    t.create(o)                                              // v0
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val writers = Seq("F", "O", "P").map { st =>
      Future {
        MiniLake(s, s"$base/orders").deleteVectored(
          col("o_orderstatus") === st && col("o_orderkey") % 2 === 0)
      }
    }
    val deleted = Await.result(Future.sequence(writers), Duration.Inf)
    val fresh = MiniLake(s, s"$base/orders")
    val cdfDeletes = fresh.readChanges(1, fresh.latestVersion)
      .filter(col(MiniLake.ChangeType) === "delete")
      .agg(count(lit(1)).cast("long"),
        countDistinct(col(MiniLake.CommitVersion)).cast("long"))
      .head()
    fresh.snapshot().agg(count(lit(1)).as("n_rows"),
        sum("cents").cast("long").as("total_cents"))
      .select(col("n_rows"), col("total_cents"),
        lit(deleted.sum).as("n_deleted_returned"),
        lit(cdfDeletes.getLong(0)).as("n_deleted_cdf"),
        lit(cdfDeletes.getLong(1)).as("n_delete_versions"))
  }

  val q284Oracle: String =
    """WITH base AS (SELECT o_orderkey,
      |  CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders)
      |SELECT
      |  CAST((SELECT count(*) FROM base WHERE o_orderkey % 2 = 1)
      |    AS BIGINT) AS n_rows,
      |  CAST((SELECT sum(cents) FROM base WHERE o_orderkey % 2 = 1)
      |    AS BIGINT) AS total_cents,
      |  CAST((SELECT count(*) FROM base WHERE o_orderkey % 2 = 0)
      |    AS BIGINT) AS n_deleted_returned,
      |  CAST((SELECT count(*) FROM base WHERE o_orderkey % 2 = 0)
      |    AS BIGINT) AS n_deleted_cdf,
      |  CAST(3 AS BIGINT) AS n_delete_versions""".stripMargin

  /** Timestamp-addressed CDF (q287) — Delta's `startingTimestamp`,
    * completing q277's TIMESTAMP AS OF pair: snapshots resolve an
    * instant BACKWARD (latest commit at or before), change feeds
    * resolve FORWARD (first commit at or after) — "changes since 9am"
    * must not include the 8:59 commit, and an instant between commits
    * starts at the next one. An instant past the latest commit is an
    * explicit error, never an empty feed. The gate spaces three
    * commits, reads the feed from each recorded stamp, from a
    * between-commit instant, and probes the past-the-end refusal —
    * every count closed form.
    */
  def q287ChangesSince(s: SparkSession, dir: String): DataFrame = {
    val base = graft.Scratch.dir("graft_cdfts").toString
    import s.implicits._
    val t = MiniLake.compact(s, s"$base/ledger")
    t.create(Seq((1L, 10L)).toDF("k", "cents"))            // v0
    Thread.sleep(25)
    t.append(Seq((2L, 20L), (3L, 30L)).toDF("k", "cents")) // v1
    Thread.sleep(25)
    t.append(Seq((4L, 40L)).toDF("k", "cents"))            // v2
    val ts = t.history.select("version", "timestamp_ms")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def nSince(ms: Long): Long = t.readChangesSince(ms).count()
    val sinceV0 = nSince(ts(0L))          // all 4 inserts
    val sinceV1 = nSince(ts(1L))          // 3 (v1's two + v2's one)
    val betweenV1V2 = nSince(ts(1L) + 1)  // starts at v2 → 1
    val sinceV2 = nSince(ts(2L))          // 1
    val pastEndRefused =
      try { t.readChangesSince(ts(2L) + 1); false }
      catch { case _: IllegalArgumentException => true }
    t.snapshot().agg(count(lit(1)).as("n_rows"),
        sum("cents").cast("long").as("total_cents"))
      .select(lit(sinceV0).as("n_since_v0"), lit(sinceV1).as("n_since_v1"),
        lit(betweenV1V2).as("n_between_1_2"), lit(sinceV2).as("n_since_v2"),
        lit(pastEndRefused).as("past_end_refused"),
        col("n_rows"), col("total_cents"))
  }

  val q287Oracle: String =
    """SELECT CAST(4 AS BIGINT) AS n_since_v0,
      |  CAST(3 AS BIGINT) AS n_since_v1,
      |  CAST(1 AS BIGINT) AS n_between_1_2,
      |  CAST(1 AS BIGINT) AS n_since_v2,
      |  TRUE AS past_end_refused,
      |  CAST(4 AS BIGINT) AS n_rows,
      |  CAST(100 AS BIGINT) AS total_cents""".stripMargin

  /** DESCRIBE DETAIL as a gate (q291) — Delta's table-inspection verb
    * beside q177's history: a scripted lifecycle on a compact
    * (layout-deterministic) lake probed at two points; every count
    * and structural fact is closed form. Sizes are deliberately not
    * reported (compression-dependent); counts and structure are the
    * portable facts an operator dashboards.
    */
  def q291DescribeDetail(s: SparkSession, dir: String): DataFrame = {
    val base = graft.Scratch.dir("graft_detail").toString
    import s.implicits._
    val t = MiniLake.compact(s, s"$base/ledger")
    t.create(Seq((1L, 10L), (2L, 20L)).toDF("k", "cents"))   // v0: 1 file
    t.append(Seq((3L, 30L)).toDF("k", "cents"))              // v1: 2 files
    val d1 = t.detail.select("version", "num_commits", "num_files",
      "num_dv_files", "min_reader_version", "columns")
    t.deleteVectored(col("k") === 2L)                        // v2: +1 DV
    t.renameColumn("cents", "pennies")                       // v3: proto 3
    val fresh = MiniLake(s, s"$base/ledger")                 // cold reopen
    val d2 = fresh.detail.select("version", "num_commits", "num_files",
      "num_dv_files", "min_reader_version", "columns")
    d1.withColumn("probe", lit("mid"))
      .unionByName(d2.withColumn("probe", lit("end")))
      .orderBy("probe")
  }

  val q291Oracle: String =
    """SELECT * FROM (VALUES
      |  (CAST(3 AS BIGINT), CAST(4 AS BIGINT), CAST(2 AS BIGINT),
      |   CAST(1 AS BIGINT), CAST(3 AS BIGINT), 'k,pennies', 'end'),
      |  (CAST(1 AS BIGINT), CAST(2 AS BIGINT), CAST(2 AS BIGINT),
      |   CAST(0 AS BIGINT), CAST(1 AS BIGINT), 'k,cents', 'mid'))
      |  AS t(version, num_commits, num_files, num_dv_files,
      |    min_reader_version, columns, probe)
      |ORDER BY probe""".stripMargin

  /** Identity across the MULTI-WRITER verbs (q293), completing q280's
    * reservation story (MiniLake.scala — id-range reservation at
    * `reserveIdentityRange`): three racing `mergeConcurrent` writers
    * whose insert sets are split by BUCKET class (provably disjoint
    * footprints → no conflict, no retry, no burned reservation), then
    * a `mergeUpdate` whose matched rows must KEEP their ids (updates
    * consume nothing; only the 2 fresh inserts do), then an
    * `appendIfAbsent` ingest whose replay must skip the data AND the
    * ids — the foreachBatch crash-replay shape. Coverage stays exactly
    * contiguous 1..N under every interleaving, so count/distinct/min/
    * max/sum are closed form; the payload sum proves the update
    * landed. At 100 TB each writer pays one distributed write plus
    * metadata-sized reservation commits — ids never serialize data.
    */
  def q293IdentityMultiwriter(s: SparkSession, dir: String): DataFrame = {
    val base = graft.Scratch.dir("graft_identmw").toString
    val d = orders(s, dir).select(col("o_orderkey"),
      round(col("o_totalprice") * 100).cast("long").as("cents"))
    val t = MiniLake.bucketedIdentity(s, s"$base/orders",
      Seq("o_orderkey"), 8, "row_id")
    t.create(d.filter(col("o_orderkey") % 4 === 0).orderBy("o_orderkey"))
    // the same hash MiniLake buckets by — writer w inserts exactly the
    // keys whose bucket ≡ w (mod 3); re-inserted seed keys anti-join
    // away and consume no ids
    val bucketOf = pmod(xxhash64(concat_ws("",
      col("o_orderkey").cast("string"))), lit(8))
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val writers = (0 to 2).map { w =>
      Future {
        MiniLake(s, s"$base/orders").mergeConcurrent(
          inserts = d.filter(bucketOf % 3 === w).orderBy("o_orderkey"),
          deletes = MiniLake.emptyDf(s, d.schema),
          pks = Seq("o_orderkey"))
      }
    }
    Await.result(Future.sequence(writers), Duration.Inf)
    // matched rows keep ids; keys -1,-2 insert (2 fresh ids)
    val upd = d.filter(col("o_orderkey") % 10 === 1)
      .withColumn("cents", lit(0L))
      .unionByName(s.createDataFrame(
        java.util.List.of[org.apache.spark.sql.Row](
          org.apache.spark.sql.Row(-2L, 0L),
          org.apache.spark.sql.Row(-1L, 0L)),
        d.schema)).orderBy("o_orderkey")
    val t2 = MiniLake(s, s"$base/orders")
    t2.mergeUpdate(upd, pks = Seq("o_orderkey"))
    // foreachBatch replay: same (appId, txn) twice → one commit, one id
    val extra = s.createDataFrame(
      java.util.List.of[org.apache.spark.sql.Row](
        org.apache.spark.sql.Row(-3L, 0L)), d.schema).orderBy("o_orderkey")
    val first = t2.appendIfAbsent(extra, "ingest", 1L)
    val replay = t2.appendIfAbsent(extra, "ingest", 1L)
    MiniLake(s, s"$base/orders").snapshot()
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("row_id")).as("n_distinct_ids"),
        min("row_id").as("min_id"), max("row_id").as("max_id"),
        sum("row_id").cast("long").as("sum_id"),
        sum("cents").cast("long").as("total_cents"))
      .select(col("n_rows"), col("n_distinct_ids"), col("min_id"),
        col("max_id"), col("sum_id"),
        lit(first && !replay).as("replay_skipped"), col("total_cents"))
  }

  val q293Oracle: String =
    """WITH c AS (SELECT count(*) + 3 AS n FROM orders),
      |p AS (SELECT CAST(sum(CASE WHEN o_orderkey % 10 = 1 THEN 0
      |    ELSE CAST(round(o_totalprice * 100) AS BIGINT) END)
      |  AS BIGINT) AS pay FROM orders)
      |SELECT n AS n_rows, n AS n_distinct_ids,
      |  CAST(1 AS BIGINT) AS min_id, n AS max_id,
      |  CAST(n * (n + 1) / 2 AS BIGINT) AS sum_id,
      |  TRUE AS replay_skipped, pay AS total_cents
      |FROM c, p""".stripMargin

  /** GENERATED BY DEFAULT AS IDENTITY + SYNC IDENTITY (q294) — the
    * migration shape Delta ships beside ALWAYS: a backfill batch
    * CARRIES explicit ids (2·key — the legacy system's keys), the
    * next generated batch must resume PAST the backfill (high water
    * advanced to max(supplied) on the sequence grid), SYNC IDENTITY
    * re-seats idempotently, an explicit id BELOW the mark is accepted
    * without regressing it, and ALWAYS's rejection contract is
    * probed unchanged. Every id is a closed-form function of the
    * orders keys, so sum/max/distinct are exact.
    */
  def q294IdentityByDefault(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = graft.Scratch.dir("graft_identbd").toString
    val d = orders(s, dir).select(col("o_orderkey"),
      round(col("o_totalprice") * 100).cast("long").as("cents"))
    val t = MiniLake.identityByDefault(s, s"$base/orders", "row_id")
    // backfill: explicit ids 2·key for keys ≡ 0 (mod 3)
    t.create(d.filter(col("o_orderkey") % 3 === 0)
      .withColumn("row_id", col("o_orderkey") * 2).orderBy("o_orderkey"))
    // generated batch resumes at max(2·key)+1
    t.append(d.filter(col("o_orderkey") % 3 === 1).orderBy("o_orderkey"))
    // SYNC IDENTITY: idempotent here (the write path already advanced
    // the mark) — the returned mark itself is the assertion
    val mark = MiniLake(s, s"$base/orders").syncIdentity()
    // explicit id BELOW the mark: accepted, mark must not regress
    t.append(Seq((-1L, 0L, 1L)).toDF("o_orderkey", "cents", "row_id")
      .orderBy("o_orderkey"))
    t.append(d.filter(col("o_orderkey") % 3 === 2).orderBy("o_orderkey"))
    // ALWAYS keeps rejecting explicit values
    val alwaysRejected = {
      val a = MiniLake.identity(s, s"$base/always", "row_id")
      a.create(Seq((1L, 0L)).toDF("o_orderkey", "cents").orderBy("o_orderkey"))
      try { a.append(Seq((2L, 0L, 9L))
        .toDF("o_orderkey", "cents", "row_id")); false }
      catch { case _: IllegalArgumentException => true }
    }
    MiniLake(s, s"$base/orders").snapshot()
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("row_id")).as("n_distinct_ids"),
        max("row_id").cast("long").as("max_id"),
        sum("row_id").cast("long").as("sum_id"))
      .select(col("n_rows"), col("n_distinct_ids"), col("max_id"),
        col("sum_id"), lit(mark).as("sync_mark"),
        lit(alwaysRejected).as("always_rejected"))
  }

  val q294Oracle: String =
    """WITH k0 AS (SELECT CAST(sum(o_orderkey * 2) AS BIGINT) AS s0,
      |    CAST(max(o_orderkey * 2) AS BIGINT) AS mx0
      |  FROM orders WHERE o_orderkey % 3 = 0),
      |m1 AS (SELECT count(*) AS c1 FROM orders WHERE o_orderkey % 3 = 1),
      |m2 AS (SELECT count(*) AS c2 FROM orders WHERE o_orderkey % 3 = 2)
      |SELECT (SELECT count(*) FROM orders) + 1 AS n_rows,
      |  (SELECT count(*) FROM orders) + 1 AS n_distinct_ids,
      |  CAST(mx0 + c1 + c2 AS BIGINT) AS max_id,
      |  CAST(s0 + c1 * mx0 + c1 * (c1 + 1) / 2 + 1
      |    + c2 * (mx0 + c1) + c2 * (c2 + 1) / 2 AS BIGINT) AS sum_id,
      |  CAST(mx0 + c1 AS BIGINT) AS sync_mark,
      |  TRUE AS always_rejected
      |FROM k0, m1, m2""".stripMargin

  /** Timestamp-BOUNDED CDF + RESTORE TIMESTAMP AS OF (q295) —
    * completing q287's one-sided feed: the start resolves FORWARD
    * (first commit ≥ tsLo), the end resolves BACKWARD (last commit
    * ≤ tsHi — "changes until 5:00" never includes the 5:01 commit),
    * a window strictly between two commits is the schema'd EMPTY
    * feed (nothing changed — a real answer), an inverted window and
    * an end before history are explicit errors, and
    * restoreToTimestamp lands the table exactly on the backward-
    * resolved version. Three spaced commits make every count closed
    * form.
    */
  def q295TimestampWindow(s: SparkSession, dir: String): DataFrame = {
    val base = graft.Scratch.dir("graft_cdfwin").toString
    import s.implicits._
    val t = MiniLake.compact(s, s"$base/ledger")
    t.create(Seq((1L, 10L)).toDF("k", "cents"))            // v0
    Thread.sleep(25)
    t.append(Seq((2L, 20L), (3L, 30L)).toDF("k", "cents")) // v1
    Thread.sleep(25)
    t.append(Seq((4L, 40L)).toDF("k", "cents"))            // v2
    val ts = t.history.select("version", "timestamp_ms")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val w01 = t.readChangesBetween(ts(0L), ts(1L)).count()     // 1+2
    val w11 = t.readChangesBetween(ts(1L), ts(1L)).count()     // 2
    val wMid = t.readChangesBetween(ts(1L) + 1, ts(2L) - 1).count() // 0
    val w02 = t.readChangesBetween(ts(0L), ts(2L)).count()     // 4
    val invertedRefused =
      try { t.readChangesBetween(ts(2L), ts(0L)); false }
      catch { case _: IllegalArgumentException => true }
    val beforeRefused =
      try { t.readChangesBetween(ts(0L) - 10, ts(0L) - 1); false }
      catch { case _: IllegalArgumentException => true }
    t.restoreToTimestamp(ts(1L)) // back to {1,2,3}
    val fresh = MiniLake(s, s"$base/ledger") // cold reopen
    fresh.snapshot().agg(count(lit(1)).as("n_rows"),
        sum("cents").cast("long").as("total_cents"))
      .select(lit(w01).as("n_w01"), lit(w11).as("n_w11"),
        lit(wMid).as("n_between"), lit(w02).as("n_w02"),
        lit(invertedRefused).as("inverted_refused"),
        lit(beforeRefused).as("before_first_refused"),
        col("n_rows"), col("total_cents"))
  }

  val q295Oracle: String =
    """SELECT CAST(3 AS BIGINT) AS n_w01,
      |  CAST(2 AS BIGINT) AS n_w11,
      |  CAST(0 AS BIGINT) AS n_between,
      |  CAST(4 AS BIGINT) AS n_w02,
      |  TRUE AS inverted_refused,
      |  TRUE AS before_first_refused,
      |  CAST(3 AS BIGINT) AS n_rows,
      |  CAST(60 AS BIGINT) AS total_cents""".stripMargin

  /** ROW TRACKING (q296) — Delta 3.x stable row ids (design note at
    * `MiniLake.rowTracked`): the (pk ↔ `_row_id`) pairing must survive
    * a full lifecycle of rewrites — UPDATE (payload ×3), bin-pack
    * compaction, a DV delete, materializeDeletes (the COW rewrite that
    * folds sidecars in), and a mergeUpdate (matched rows keep ids,
    * two fresh inserts extend the stream). The witness is
    * `sum(pk · _row_id)`: any rewrite that re-assigned even one row's
    * id moves it. Ids assign in create sort order (rid = rank by pk),
    * so the oracle reconstructs every id with ROW_NUMBER — the whole
    * lifecycle is closed form.
    */
  def q296RowTracking(s: SparkSession, dir: String): DataFrame = {
    val base = graft.Scratch.dir("graft_rowtrk").toString
    val d = orders(s, dir).filter(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
    val t = MiniLake.rowTracked(s, s"$base/orders")
    t.create(d.orderBy("o_orderkey")) // rid = rank(o_orderkey)
    t.update(col("o_orderkey") % 6 === 0,
      Map("cents" -> (col("cents") * 3)))                   // COW rewrite
    t.compactFiles()                                        // bin-pack
    t.deleteVectored(col("o_orderkey") % 10 === 0)          // sidecar
    t.materializeDeletes()                                  // fold DVs in
    val upd = d.filter(col("o_orderkey") % 14 === 2 &&
        col("o_orderkey") % 10 =!= 0)
      .withColumn("cents", lit(0L))
      .unionByName(s.createDataFrame(
        java.util.List.of[org.apache.spark.sql.Row](
          org.apache.spark.sql.Row(-3L, 0L),
          org.apache.spark.sql.Row(-1L, 0L)), d.schema))
      .orderBy("o_orderkey")
    val t2 = MiniLake(s, s"$base/orders")
    t2.mergeUpdate(upd, pks = Seq("o_orderkey"))            // ids kept
    t2.snapshot().agg(count(lit(1)).as("n_rows"),
      sum(col(MiniLake.RowIdCol)).cast("long").as("sum_rid"),
      sum(col("o_orderkey") * col(MiniLake.RowIdCol)).cast("long")
        .as("checksum"),
      sum("cents").cast("long").as("total_cents"))
  }

  val q296Oracle: String =
    """WITH base AS (
      |  SELECT o_orderkey AS k,
      |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents0,
      |    row_number() OVER (ORDER BY o_orderkey) AS rid
      |  FROM orders WHERE o_orderkey % 2 = 0),
      |n AS (SELECT count(*) AS nn FROM base),
      |surv AS (
      |  SELECT k, rid,
      |    CASE WHEN k % 14 = 2 THEN 0
      |         WHEN k % 6 = 0 THEN cents0 * 3
      |         ELSE cents0 END AS cents
      |  FROM base WHERE k % 10 <> 0)
      |SELECT
      |  (SELECT count(*) FROM surv) + 2 AS n_rows,
      |  CAST((SELECT sum(rid) FROM surv)
      |    + (SELECT 2 * nn + 3 FROM n) AS BIGINT) AS sum_rid,
      |  CAST((SELECT sum(k * rid) FROM surv)
      |    + (SELECT -4 * nn - 5 FROM n) AS BIGINT) AS checksum,
      |  CAST((SELECT sum(cents) FROM surv) AS BIGINT) AS total_cents""".stripMargin

  /** PARTITION SPEC EVOLUTION (q299) — Iceberg's signature layout verb
    * (`ALTER TABLE ... ADD PARTITION FIELD`), the layout change a
    * 100 TB table can actually afford: a day-partitioned events table
    * evolves to (day, event_type) in a METADATA-ONLY commit; files
    * written before keep their `_p_day=` directories, files after land
    * under both keys, and ONE snapshot reads both eras (the partition
    * value is duplicated path + leaf column). The day-window report
    * prunes in BOTH eras; the event-type read conservatively keeps the
    * old era (missing key = keep) with the exact filter above the scan
    * — pruning is a performance layer, never a correctness gate. Time
    * travel crosses the evolve commit, and replacePartitions refuses
    * the mixed-era live set explicitly (its delete scope must be
    * provable from paths alone).
    */
  def q299PartitionEvolution(s: SparkSession, dir: String): DataFrame = {
    val base = graft.Scratch.dir("graft_partevo").toString
    val e = events(s, dir).select(col("event_id"), col("user_id"),
      col("event_type"),
      round(col("value") * 100).cast("long").as("cents"),
      date_format(col("ts").cast("timestamp"), "yyyy-MM-dd").as("day"))
    val t = MiniLake.partitioned(s, s"$base/events", Seq("day"))
    t.create(e.filter(col("event_id") % 2 === 0))       // era 1: day
    t.evolvePartitioning(Seq("day", "event_type"))      // metadata-only
    t.append(e.filter(col("event_id") % 2 === 1))       // era 2: day+type
    val fresh = MiniLake(s, s"$base/events")            // cold reopen
    val win = fresh.snapshotWhere(m =>
        m.get("day").forall(d => d >= "2024-01-05" && d <= "2024-01-07"))
      .agg(count(lit(1)).as("n"),
        coalesce(sum("cents"), lit(0L)).cast("long").as("c")).head
    val views = fresh.snapshotWhere(m =>
        m.get("event_type").forall(_ == "view"))
      .filter(col("event_type") === "view").count()
    val nPre = fresh.snapshot(0).count()                // across the evolve
    val mixedRefused =
      try {
        fresh.replacePartitions(m => m.get("day").contains("2024-01-05"),
          MiniLake.emptyDf(s, e.schema)); false
      } catch { case _: IllegalArgumentException => true }
    fresh.snapshot().agg(count(lit(1)).as("n_total"))
      .select(col("n_total"), lit(nPre).as("n_pre"),
        lit(win.getLong(0)).as("n_win"), lit(win.getLong(1)).as("cents_win"),
        lit(views).as("n_views"), lit(mixedRefused).as("mixed_refused"))
  }

  val q299Oracle: String =
    """WITH e AS (SELECT event_id, event_type,
      |   CAST(round(value * 100) AS BIGINT) AS cents,
      |   strftime(ts, '%Y-%m-%d') AS day FROM events)
      |SELECT count(*) AS n_total,
      |  CAST(sum(CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_pre,
      |  CAST(sum(CASE WHEN day BETWEEN '2024-01-05' AND '2024-01-07'
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_win,
      |  CAST(sum(CASE WHEN day BETWEEN '2024-01-05' AND '2024-01-07'
      |    THEN cents ELSE 0 END) AS BIGINT) AS cents_win,
      |  CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_views,
      |  TRUE AS mixed_refused
      |FROM e""".stripMargin

  /** Append-only tables (q301) — Delta's `delta.appendOnly` writer
    * feature via SET TBLPROPERTIES: once set, every row-mutating verb
    * (DELETE — COW and DV —, UPDATE, the three MERGE flavors,
    * overwrite, RESTORE) refuses, while appends (plain, concurrent,
    * txn-marked), OPTIMIZE compaction, and vacuum stay legal because
    * they preserve the logical row set — the audit-log /
    * event-sourcing contract.
    * The gate exercises the full cycle: set → appends through all
    * three paths → eight refusal probes → compact+vacuum under the
    * property → unset → one real delete. Every count and flag is
    * closed form over orders.
    */
  def q301AppendOnly(s: SparkSession, dir: String): DataFrame = {
    val base = graft.Scratch.dir("graft_apponly").toString
    val d = orders(s, dir).select(col("o_orderkey"),
      round(col("o_totalprice") * 100).cast("long").as("cents"))
    val t = MiniLake(s, s"$base/orders")
    t.create(d.filter(col("o_orderkey") % 3 === 0).orderBy("o_orderkey"))
    t.setTableProperty(MiniLake.AppendOnlyProp, "true")
    t.append(d.filter(col("o_orderkey") % 3 === 1).orderBy("o_orderkey"))
    t.appendConcurrent(
      d.filter(col("o_orderkey") % 3 === 2).orderBy("o_orderkey"))
    def refused(f: => Any): Boolean =
      try { f; false }
      catch { case e: IllegalArgumentException =>
        e.getMessage.contains("append-only") }
    val nRefused = Seq(
      refused(t.delete(col("o_orderkey") === 3L)),
      refused(t.deleteVectored(col("o_orderkey") === 3L)),
      refused(t.mergeConcurrent(MiniLake.emptyDf(s, d.schema),
        d.filter(col("o_orderkey") === 3L), Seq("o_orderkey"))),
      refused(t.update(col("o_orderkey") === 3L,
        Map("cents" -> lit(0L)))),
      refused(t.overwrite(d.limit(1))),
      refused(t.merge(MiniLake.emptyDf(s, d.schema),
        d.filter(col("o_orderkey") === 3L), Seq("o_orderkey"))),
      refused(t.mergeUpdate(d.filter(col("o_orderkey") === 3L)
        .withColumn("cents", lit(0L)), Seq("o_orderkey"))),
      refused(t.restoreTo(0L))).count(identity)
    t.compactFiles() // legal: logical rows intact
    t.vacuum(retainMillis = 0L)
    val fresh = MiniLake(s, s"$base/orders") // cold reopen
    val stillAppendOnly =
      fresh.tableProperties.get(MiniLake.AppendOnlyProp).contains("true")
    fresh.unsetTableProperty(MiniLake.AppendOnlyProp)
    val nDel = fresh.delete(col("o_orderkey") % 10 === 0)
    fresh.snapshot().agg(count(lit(1)).as("n_rows"),
        sum("cents").cast("long").as("total_cents"))
      .select(lit(8L).as("n_probes"), lit(nRefused.toLong).as("n_refused"),
        lit(stillAppendOnly).as("survived_reopen"),
        lit(nDel).as("n_deleted_after_unset"),
        col("n_rows"), col("total_cents"))
  }

  val q301Oracle: String =
    """SELECT CAST(8 AS BIGINT) AS n_probes,
      |  CAST(8 AS BIGINT) AS n_refused,
      |  TRUE AS survived_reopen,
      |  CAST((SELECT count(*) FROM orders WHERE o_orderkey % 10 = 0)
      |    AS BIGINT) AS n_deleted_after_unset,
      |  CAST(count(*) AS BIGINT) AS n_rows,
      |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |    AS total_cents
      |FROM orders WHERE o_orderkey % 10 <> 0""".stripMargin

  /** WRITER protocol versions (q302) — the minWriter half of Delta's
    * protocol, completing q275's reader half: write-affecting features
    * are INVISIBLE to readers (a CHECK constraint, an identity column,
    * an append-only property change no bytes a reader interprets), so
    * a too-old writer must be refused AT COMMIT TIME while its reads
    * stay legal — the opposite split from the reader contract. The
    * lifecycle stamps each level (1 plain → 2 constraints → 3 identity
    * → 4 append-only), probes that a capped writer
    * (`graft.lake.maxSupportedWriter=1`) is refused on commit but
    * reads the identity table fine, and every number is closed form.
    */
  def q302WriterProtocol(s: SparkSession, dir: String): DataFrame = {
    val base = graft.Scratch.dir("graft_wproto").toString
    val d = orders(s, dir).select(col("o_orderkey"),
      round(col("o_totalprice") * 100).cast("long").as("cents"))
    val tA = MiniLake(s, s"$base/a")
    tA.create(d.filter(col("o_orderkey") % 2 === 0).orderBy("o_orderkey"))
    val w0 = tA.writerProtocolVersion
    tA.addCheckConstraint("pos", "cents >= 0")
    val w1 = tA.writerProtocolVersion
    val tB = MiniLake.identity(s, s"$base/b", "row_id")
    tB.create(d.filter(col("o_orderkey") % 2 === 1).orderBy("o_orderkey"))
    val w2 = MiniLake(s, s"$base/b").writerProtocolVersion // cold reopen
    tA.setTableProperty(MiniLake.AppendOnlyProp, "true")
    val w3 = tA.writerProtocolVersion
    def asOldWriter[T](cap: Int)(f: => T): T = {
      s.conf.set("graft.lake.maxSupportedWriter", cap.toString)
      try f finally s.conf.unset("graft.lake.maxSupportedWriter")
    }
    val refused = asOldWriter(1) {
      try { MiniLake(s, s"$base/a").append(d.limit(1)); false }
      catch { case _: IllegalStateException => true }
    }
    // the split the writer level exists for: the same capped build
    // READS the identity table it may not write
    val readByOld = asOldWriter(1) {
      MiniLake(s, s"$base/b").snapshot().count()
    }
    MiniLake(s, s"$base/a").snapshot()
      .agg(count(lit(1)).as("n_rows_a"),
        sum("cents").cast("long").as("cents_a"))
      .select(lit(w0).as("w_create"), lit(w1).as("w_constraint"),
        lit(w2).as("w_identity"), lit(w3).as("w_append_only"),
        lit(refused).as("old_writer_refused"),
        lit(readByOld).as("n_read_by_old_writer"),
        col("n_rows_a"), col("cents_a"))
  }

  val q302Oracle: String =
    """SELECT CAST(1 AS BIGINT) AS w_create,
      |  CAST(2 AS BIGINT) AS w_constraint,
      |  CAST(3 AS BIGINT) AS w_identity,
      |  CAST(4 AS BIGINT) AS w_append_only,
      |  TRUE AS old_writer_refused,
      |  CAST((SELECT count(*) FROM orders WHERE o_orderkey % 2 = 1)
      |    AS BIGINT) AS n_read_by_old_writer,
      |  CAST(count(*) AS BIGINT) AS n_rows_a,
      |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |    AS cents_a
      |FROM orders WHERE o_orderkey % 2 = 0""".stripMargin

  /** MERGE `whenNotMatchedBySource` (q303) — the three-clause Delta
    * 2.3 sync (VERDICT r12 #6): a row-tracked dimension mirror is
    * brought to equality with a shifted source in ONE
    * [[graft.lake.MiniLake.mergeSync]]: matched keys (≡1 mod 3) take
    * the doubled payload and KEEP their row ids bit-for-bit, absent
    * keys (≡2) insert with fresh contiguous ids, and target keys the
    * source no longer carries (≡0) are deleted with CDF delete
    * preimages. Witnesses are order-independent closed forms: the
    * matched-row id checksum Σ k·rid over create-rank rids, the total
    * id sum (create-survivor ranks + the contiguous insert range),
    * and the sync commit's change-feed composition
    * (pre/post/insert/delete counts all cross-checked).
    */
  def q303MergeSync(s: SparkSession, dir: String): DataFrame = {
    val base = graft.Scratch.dir("graft_mergesync").toString
    val d = orders(s, dir).select(col("o_orderkey"),
      round(col("o_totalprice") * 100).cast("long").as("cents"))
    val t = MiniLake.rowTracked(s, s"$base/dim")
    // mirror: keys ≡ 0,1 (mod 3); rid = rank by key (ordered create)
    t.create(d.filter(col("o_orderkey") % 3 < 2).orderBy("o_orderkey"))
    // the dimension moved on: keys ≡ 1,2 now live, payload doubled
    val src = d.filter(col("o_orderkey") % 3 >= 1)
      .withColumn("cents", col("cents") * 2)
      .orderBy("o_orderkey")
    val t2 = MiniLake(s, s"$base/dim")
    val (nUpd, nIns, nDel) = t2.mergeSync(src, Seq("o_orderkey"))
    val v = t2.latestVersion
    val byType = t2.readChanges(v, v)
      .groupBy(col(MiniLake.ChangeType)).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val cdfOk = byType.getOrElse("update_preimage", 0L) == nUpd &&
      byType.getOrElse("update_postimage", 0L) == nUpd &&
      byType.getOrElse("insert", 0L) == nIns &&
      byType.getOrElse("delete", 0L) == nDel
    t2.snapshot().agg(
        count(lit(1)).as("n_rows"),
        sum(col(MiniLake.RowIdCol)).cast("long").as("sum_rid"),
        sum(when(col("o_orderkey") % 3 === 1,
          col("o_orderkey") * col(MiniLake.RowIdCol)))
          .cast("long").as("checksum_upd"),
        sum("cents").cast("long").as("total_cents"))
      .select(col("n_rows"), col("sum_rid"), col("checksum_upd"),
        col("total_cents"), lit(nUpd).as("n_upd"), lit(nIns).as("n_ins"),
        lit(nDel).as("n_del"), lit(cdfOk).as("cdf_consistent"))
  }

  val q303Oracle: String =
    """WITH base AS (
      |  SELECT o_orderkey AS k,
      |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
      |    row_number() OVER (ORDER BY o_orderkey) AS rid
      |  FROM orders WHERE o_orderkey % 3 < 2),
      |nb AS (SELECT count(*) AS n FROM base),
      |counts AS (SELECT
      |  CAST(sum(CASE WHEN o_orderkey % 3 = 1 THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_upd,
      |  CAST(sum(CASE WHEN o_orderkey % 3 = 2 THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_ins,
      |  CAST(sum(CASE WHEN o_orderkey % 3 = 0 THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_del,
      |  CAST(sum(CASE WHEN o_orderkey % 3 >= 1
      |    THEN 2 * CAST(round(o_totalprice * 100) AS BIGINT)
      |    ELSE 0 END) AS BIGINT) AS total_cents
      | FROM orders)
      |SELECT c.n_upd + c.n_ins AS n_rows,
      |  CAST((SELECT sum(rid) FROM base WHERE k % 3 = 1)
      |    + c.n_ins * nb.n + c.n_ins * (c.n_ins + 1) / 2
      |    AS BIGINT) AS sum_rid,
      |  CAST((SELECT sum(k * rid) FROM base WHERE k % 3 = 1)
      |    AS BIGINT) AS checksum_upd,
      |  c.total_cents, c.n_upd, c.n_ins, c.n_del,
      |  TRUE AS cdf_consistent
      |FROM counts c CROSS JOIN nb""".stripMargin

  /** Symlink-format manifest interop (q235) — Delta's
    * `GENERATE symlink_format_manifest` verb: after a lifecycle whose
    * delete REWROTE the live set (so stale pre-delete files still sit
    * on disk for vacuum), the manifest must reference EXACTLY the live
    * files; the gate then reads the table the way Presto/Trino would —
    * parquet paths taken from the manifest text files, no commit log —
    * and the numbers must match plain SQL with the delete applied.
    * Partitioned layout: one manifest per `lang=<v>` directory, so an
    * external engine's partition pruning works off the directory tree.
    */
  def q235SymlinkManifest(s: SparkSession, dir: String): DataFrame = {
    val base = graft.Scratch.dir("graft_manifest").toString
    val path = s"$base/docs"
    val t = MiniLake.partitioned(s, path, Seq("lang"))
    val d = documents(s, dir).select("doc_id", "lang", "n_chars")
    t.create(d.filter(col("doc_id") % 2 === 0))
    t.append(d.filter(col("doc_id") % 2 === 1))
    t.delete(col("doc_id") % 5 === 0) // COW rewrite leaves stale files
    t.generateSymlinkManifest()

    // read back AS AN EXTERNAL ENGINE WOULD: walk the manifest tree,
    // take the file list verbatim, scan those parquet paths directly
    val manifestRoot = java.nio.file.Paths.get(path,
      "_symlink_format_manifest")
    import scala.jdk.CollectionConverters._
    val walk = Files.walk(manifestRoot)
    val files =
      try walk.iterator.asScala
        .filter(p => p.getFileName.toString == "manifest")
        .flatMap(p => Files.readAllLines(p).asScala)
        .filter(_.nonEmpty)
        .toSeq
      finally walk.close()
    s.read.schema(t.schema).parquet(files: _*)
      .groupBy("lang")
      .agg(count(lit(1)).as("n"), sum("n_chars").as("total_chars"))
      .orderBy("lang")
  }

  val q235Oracle: String =
    """SELECT lang, count(*) AS n,
      | CAST(sum(n_chars) AS BIGINT) AS total_chars
      |FROM documents
      |WHERE doc_id % 5 <> 0
      |GROUP BY lang
      |ORDER BY lang""".stripMargin

  /** DOUBLE-column data skipping as a gate (q250) — the q91 scenario
    * on an IEEE metric column: three appends give each commit's files
    * a disjoint o_totalprice range (footer double stats land in the
    * commit log), then `snapshotForDoubleRange` serves a price-band
    * report opening only the middle commit's files (MiniLakeSpec
    * asserts the pruning physically via inputFiles; this gate checks
    * the numbers against plain SQL). Score/quality/price columns are
    * what a curation pipeline range-reads — INT64 stats alone leave
    * them unprunable.
    */
  def q250DoubleSkipping(s: SparkSession, dir: String): DataFrame = {
    val base = graft.Scratch.dir("graft_dskip").toString
    val t = MiniLake(s, s"$base/orders")
    val o = orders(s, dir).select("o_orderkey", "o_orderpriority",
      "o_totalprice")
    t.create(o.filter(col("o_totalprice") < 60000.0))
    t.append(o.filter(col("o_totalprice") >= 60000.0 &&
      col("o_totalprice") < 180000.0))
    t.append(o.filter(col("o_totalprice") >= 180000.0))
    t.snapshotForDoubleRange("o_totalprice", 70000.0, 170000.0)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"),
        round(sum("o_totalprice"), 2).cast("decimal(18,2)")
          .cast("double").as("total"))
      .orderBy("o_orderpriority")
  }

  val q250Oracle: String =
    """SELECT o_orderpriority, count(*) AS n,
      | CAST(CAST(round(sum(o_totalprice), 2) AS DECIMAL(18,2)) AS DOUBLE)
      |   AS total
      |FROM orders
      |WHERE o_totalprice BETWEEN 70000.0 AND 170000.0
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  /** Right-to-be-forgotten: purge every row a set of users owns from a
    * versioned lake table, then AUDIT the purge from the change feed —
    * the GDPR/DSAR lifecycle the reference's health-data setting makes
    * mandatory. The delete is MiniLake's one-pass copy-on-write
    * rewrite (partition-prunable at scale); the audit never rescans
    * the table: purge counts come from the delete commit's CDF
    * preimages (batch-sized), and the `remaining` proof probes the
    * post-delete snapshot for the targeted users only. Output per
    * forgotten user: rows purged, rows remaining (must be 0).
    */
  def q125ForgetUser(s: SparkSession, dir: String): DataFrame = {
    val base = graft.Scratch.dir("graft_forget").toString
    val t = MiniLake(s, s"$base/events")
    t.create(events(s, dir)
      .select("event_id", "user_id", "event_type", "value"))
    val isTarget = col("user_id") % 29 === 3
    t.delete(isTarget)
    val purged = t.readChanges(t.latestVersion, t.latestVersion)
      .filter(col("_change_type") === "delete")
      .groupBy("user_id").agg(count(lit(1)).as("rows_purged"))
    val remaining = t.snapshot().filter(isTarget)
      .groupBy("user_id").agg(count(lit(1)).as("r"))
    purged.join(remaining, Seq("user_id"), "left")
      .select(col("user_id"), col("rows_purged"),
        coalesce(col("r"), lit(0L)).as("remaining"))
      .orderBy("user_id")
  }

  val q125Oracle: String =
    """SELECT user_id, count(*) AS rows_purged,
      | CAST(0 AS BIGINT) AS remaining
      |FROM events WHERE user_id % 29 = 3
      |GROUP BY user_id ORDER BY user_id""".stripMargin

  /** Semantic diff between two table VERSIONS — the "what changed
    * since the snapshot I trained on" audit. Unlike the change feed
    * (which requires CDF-tracked history), the diff works on ANY two
    * snapshots: full outer join on the PK comparing row fingerprints
    * (xxhash64 over every non-key column), categorizing keys as
    * added / removed / changed. One co-partitioned join keyed on the
    * PK; fingerprints hash row content to 8 bytes BEFORE the
    * exchange, so the shuffle never carries full rows twice.
    *
    * Scenario: v0 = orders with key%3=0; append key%3=1; delete
    * key%6=0; update priority where key%9=3 — diff(v0, latest).
    */
  def q138VersionDiff(s: SparkSession, dir: String): DataFrame = {
    val base = graft.Scratch.dir("graft_diff").toString
    val t = MiniLake(s, s"$base/orders")
    val src = orders(s, dir)
    t.create(src.filter(col("o_orderkey") % 3 === 0))
    val v0 = t.latestVersion
    t.append(src.filter(col("o_orderkey") % 3 === 1))
    t.delete(col("o_orderkey") % 6 === 0)
    t.update(col("o_orderkey") % 9 === 3,
      Map("o_orderpriority" -> lit("9-DIFFED")))

    def keyed(df: DataFrame, side: String) = {
      val nonKey = df.columns.filterNot(_ == "o_orderkey").sorted.map(col)
      df.select(col("o_orderkey"),
        xxhash64(nonKey: _*).as(s"fp_$side"))
    }
    keyed(t.snapshot(v0), "old")
      .join(keyed(t.snapshot(), "new"), Seq("o_orderkey"), "full_outer")
      .select(when(col("fp_old").isNull, "added")
        .when(col("fp_new").isNull, "removed")
        .when(col("fp_old") =!= col("fp_new"), "changed")
        .otherwise("unchanged").as("category"))
      .groupBy("category").agg(count(lit(1)).as("n"))
      .orderBy("category")
  }

  /** The oracle replays the scenario's set algebra directly on the
    * source table: v0 = key%3=0; latest = (v0 ∪ key%3=1) − key%6=0,
    * with key%9=3 rows updated (every %9=3 key is in v0 ∪ appended:
    * 3 | 9·k+3 ⟺ always, so "changed" = %9=3 minus deleted).
    */
  val q138Oracle: String =
    """WITH v0 AS (SELECT o_orderkey FROM orders WHERE o_orderkey % 3 = 0),
      |appended AS (SELECT o_orderkey FROM orders WHERE o_orderkey % 3 = 1),
      |cat AS (
      |  SELECT 'added' AS category, count(*) AS n FROM appended
      |  WHERE o_orderkey % 6 <> 0
      |  UNION ALL
      |  SELECT 'removed', count(*) FROM v0 WHERE o_orderkey % 6 = 0
      |  UNION ALL
      |  SELECT 'changed', count(*) FROM v0
      |  WHERE o_orderkey % 9 = 3 AND o_orderkey % 6 <> 0
      |  UNION ALL
      |  SELECT 'unchanged', count(*) FROM v0
      |  WHERE o_orderkey % 6 <> 0 AND o_orderkey % 9 <> 3)
      |SELECT category, n FROM cat WHERE n > 0 ORDER BY category""".stripMargin

  /** Additive schema evolution on append (Delta mergeSchema parity,
    * MiniLake.append(df, mergeSchema = true)): v0 lands three columns,
    * a later ingest adds a `quality` column; the snapshot null-fills
    * the pre-evolution files at read time (no rewrite of history — the
    * property that matters when "history" is 100 TB). The report
    * proves both halves: legacy rows survive with NULL quality, new
    * rows carry their computed values, and the oracle states the same
    * split directly over `documents`.
    */
  def q145SchemaEvolution(s: SparkSession, dir: String): DataFrame = {
    val path = graft.Scratch.dir("graft_schevo").toString + "/docs"
    val t = MiniLake(s, path)
    val d = documents(s, dir)
    t.create(d.filter(col("doc_id") < 250)
      .select("doc_id", "lang", "n_chars"))
    t.append(d.filter(col("doc_id") >= 250)
      .select(col("doc_id"), col("lang"), col("n_chars"),
        (length(col("text")) % 100).cast("long").as("quality")),
      mergeSchema = true)
    t.snapshot()
      .groupBy("lang")
      .agg(count(lit(1)).as("n"),
        sum(when(col("quality").isNull, 1L).otherwise(0L)).as("n_legacy"),
        sum(coalesce(col("quality"), lit(0L))).as("quality_sum"))
      .orderBy("lang")
  }

  val q145Oracle: String =
    """SELECT lang, count(*) AS n,
      | CAST(sum(CASE WHEN doc_id < 250 THEN 1 ELSE 0 END) AS BIGINT)
      |   AS n_legacy,
      | CAST(sum(CASE WHEN doc_id >= 250 THEN length(text) % 100 ELSE 0 END)
      |   AS BIGINT) AS quality_sum
      |FROM documents
      |GROUP BY lang
      |ORDER BY lang""".stripMargin

  /** CHECK-constraint lifecycle gate — the write-time data-quality
    * contract (Delta `ALTER TABLE ... ADD CONSTRAINT ... CHECK`):
    * a constraint added over clean data admits conforming appends and
    * REJECTS a violating batch atomically (no log entry — the failed
    * batch is invisible, not partial); adding a constraint existing
    * rows violate is refused; dropping the constraint re-admits the
    * batch; re-adding it is then refused because the violating rows
    * are in. Output = one audit row over the final snapshot plus the
    * rejection tallies, all reproducible from `orders` arithmetic.
    * SQL-standard NULL-passes semantics and enforcement across every
    * write mode are MiniLakeSpec's side of the contract.
    */
  def q208CheckConstraints(s: SparkSession, dir: String): DataFrame = {
    val base = graft.Scratch.dir("graft_constraints").toString
    val t = MiniLake.compact(s, s"$base/orders")
    val o = orders(s, dir)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
    def rejected(f: => Unit): Long =
      try { f; 0L } catch { case _: IllegalArgumentException => 1L }
    t.create(o.filter(col("o_orderkey") % 3 === 0))                // v0
    t.addCheckConstraint("price_positive", "o_totalprice > 0")     // v1
    t.append(o.filter(col("o_orderkey") % 3 === 1))                // v2
    val badBatch = o.filter(col("o_orderkey") % 3 === 2)
      .withColumn("o_totalprice", -col("o_totalprice"))
    val rejAppend = rejected(t.append(badBatch))
    val rejAddDirty = rejected(
      t.addCheckConstraint("status_f", "o_orderstatus = 'F'"))
    t.dropCheckConstraint("price_positive")                        // v3
    t.append(badBatch)                                             // v4
    val rejReAdd = rejected(
      t.addCheckConstraint("price_positive", "o_totalprice > 0"))
    val active = t.checkConstraints.size.toLong
    t.snapshot().agg(
      count(lit(1)).as("n_rows"),
      sum(when(col("o_totalprice") < 0, 1L).otherwise(0L))
        .as("n_neg_price"),
      sum(round(col("o_totalprice") * 100).cast("long"))
        .as("revenue_cents"))
      .select(col("n_rows"), col("n_neg_price"), col("revenue_cents"),
        lit(rejAppend).as("n_rejected_appends"),
        lit(rejAddDirty + rejReAdd).as("n_rejected_constraints"),
        lit(active).as("n_active_constraints"))
  }

  val q208Oracle: String =
    """SELECT count(*) AS n_rows,
      |  CAST(sum(CASE WHEN o_orderkey % 3 = 2 THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_neg_price,
      |  CAST(sum(CASE WHEN o_orderkey % 3 = 2
      |      THEN -CAST(round(o_totalprice * 100) AS BIGINT)
      |      ELSE CAST(round(o_totalprice * 100) AS BIGINT) END)
      |    AS BIGINT) AS revenue_cents,
      |  CAST(1 AS BIGINT) AS n_rejected_appends,
      |  CAST(2 AS BIGINT) AS n_rejected_constraints,
      |  CAST(0 AS BIGINT) AS n_active_constraints
      |FROM orders""".stripMargin

  def gates: Seq[graft.Gate] = Seq(
    gate("q208_check_constraints", q208CheckConstraints, q208Oracle),
    gate("q145_schema_evolution", q145SchemaEvolution, q145Oracle),
    gate("q125_forget_user", q125ForgetUser, q125Oracle),
    gate("q138_version_diff", q138VersionDiff, q138Oracle),
    gate("q19_cdc_roundtrip", q19CdcRoundtrip, q19Oracle),
    gate("q54_bucketed_cdc", q54BucketedCdc, q19Oracle),
    gate("q80_partitioned_lake", q80PartitionedLake, q80Oracle),
    gate("q90_time_travel", q90TimeTravel, q90Oracle),
    gate("q91_range_skipping", q91RangeSkipping, q91Oracle),
    gate("q100_zorder_2d", q100Zorder2d, q100Oracle),
    gate("q223_zorder_optimize", q223ZorderOptimize, q223Oracle),
    gate("q226_rename_column", q226RenameColumn, q226Oracle),
    gate("q227_drop_column", q227DropColumn, q227Oracle),
    gate("q101_string_skipping", q101StringSkipping, q101Oracle),
    gate("q109_delete_restore", q109DeleteRestore, q109Oracle),
    gate("q163_deletion_vectors", q163DeletionVectors, q163Oracle),
    gate("q164_bloom_skipping", q164BloomSkipping, q164Oracle),
    gate("q175_merge_upsert", q175MergeUpsert, q175Oracle),
    gate("q176_shallow_clone", q176ShallowClone, q176Oracle),
    gate("q177_table_history", q177TableHistory, q177Oracle),
    gate("q232_checkpoint_lifecycle", q232CheckpointLifecycle, q232Oracle),
    gate("q254_change_retention", q254ChangeRetention, q254Oracle),
    gate("q255_column_readd", q255ColumnReadd, q255Oracle),
    gate("q262_identity_column", q262IdentityColumn, q262Oracle),
    gate("q272_replace_where", q272ReplaceWhere, q272Oracle),
    gate("q275_protocol_version", q275ProtocolVersion, q275Oracle),
    gate("q277_timestamp_travel", q277TimestampTravel, q277Oracle),
    gate("q278_default_column", q278DefaultColumn, q278Oracle),
    gate("q279_type_widening", q279TypeWidening, q279Oracle),
    gate("q280_identity_concurrent", q280IdentityConcurrent, q280Oracle),
    gate("q283_vacuum_dry_run", q283VacuumDryRun, q283Oracle),
    gate("q284_concurrent_dv_delete", q284ConcurrentDvDelete, q284Oracle),
    gate("q287_changes_since", q287ChangesSince, q287Oracle),
    gate("q291_describe_detail", q291DescribeDetail, q291Oracle),
    gate("q293_identity_multiwriter", q293IdentityMultiwriter, q293Oracle),
    gate("q294_identity_by_default", q294IdentityByDefault, q294Oracle),
    gate("q295_timestamp_window", q295TimestampWindow, q295Oracle),
    gate("q296_row_tracking", q296RowTracking, q296Oracle),
    gate("q299_partition_evolution", q299PartitionEvolution, q299Oracle),
    gate("q301_append_only", q301AppendOnly, q301Oracle),
    gate("q302_writer_protocol", q302WriterProtocol, q302Oracle),
    gate("q303_merge_sync", q303MergeSync, q303Oracle),
    gate("q234_generated_partition", q234GeneratedPartition, q234Oracle),
    gate("q235_symlink_manifest", q235SymlinkManifest, q235Oracle),
    gate("q250_double_skipping", q250DoubleSkipping, q250Oracle)
  )
}
