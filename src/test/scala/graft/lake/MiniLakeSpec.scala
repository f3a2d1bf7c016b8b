// Copyright (c) 2026 graft contributors
// SPDX-License-Identifier: Apache-2.0

package graft.lake

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterEach
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** Port of the reference's CDC-table contracts
  * (patient_notes/tests/test_datalake.py — see SURVEY.md §5).
  */
class MiniLakeSpec extends AnyFunSuite with BeforeAndAfterEach {
  private val spark = SparkTestSession.spark
  import spark.implicits._

  private var dir: String = _
  override def beforeEach(): Unit =
    dir = Files.createTempDirectory("minilake").toString + "/t"
  override def afterEach(): Unit =
    MiniLake.deleteRecursively(dir)

  private def kv(rows: (Long, String)*) = rows.toDF("key", "value")

  test("create + append produce sequential versions with insert changes") {
    val t = MiniLake(spark, dir)
    assert(!t.exists && t.latestVersion === -1L)
    t.create(kv(1L -> "a", 2L -> "b"))
    assert(t.exists && t.latestVersion === 0L)
    t.append(kv(3L -> "c"))
    assert(t.latestVersion === 1L)

    val snap = t.snapshot().orderBy("key").as[(Long, String)].collect()
    assert(snap.toSeq === Seq(1L -> "a", 2L -> "b", 3L -> "c"))

    val ch = t.readChanges(0, 1)
    assert(ch.columns.toSeq ===
      Seq("key", "value", "_change_type", "_commit_version", "_commit_timestamp"))
    val byVersion = ch.select("key", "_change_type", "_commit_version")
      .as[(Long, String, Long)].collect().toSet
    assert(byVersion === Set((1L, "insert", 0L), (2L, "insert", 0L),
      (3L, "insert", 1L)))
  }

  test("readChanges with low > high returns empty frame with CDC schema") {
    val t = MiniLake(spark, dir)
    t.create(kv(1L -> "a"))
    val ch = t.readChanges(5, 3)
    assert(ch.isEmpty)
    assert(ch.columns.contains("_change_type"))
    assert(ch.columns.contains("_commit_timestamp"))
  }

  test("overwrite surfaces as delete-of-prior plus insert-of-new") {
    // test_datalake.py:273-334 — downstream consumers must see the
    // overwritten rows as deletes.
    val t = MiniLake(spark, dir)
    t.create(kv(1L -> "a", 2L -> "b"))
    t.overwrite(kv(2L -> "b2", 3L -> "c"))
    val ch = t.readChanges(1, 1).select("key", "value", "_change_type")
      .as[(Long, String, String)].collect().toSet
    assert(ch === Set((1L, "a", "delete"), (2L, "b", "delete"),
      (2L, "b2", "insert"), (3L, "c", "insert")))
    assert(t.snapshot().orderBy("key").as[(Long, String)].collect().toSeq
      === Seq(2L -> "b2", 3L -> "c"))
  }

  test("merge inserts only absent PKs and deletes matched PKs") {
    val t = MiniLake(spark, dir)
    t.create(kv(1L -> "a", 2L -> "b"))
    // re-insert of key 1 is a no-op; key 3 lands; key 2 deleted
    val (ins, del) = t.merge(
      inserts = kv(1L -> "a-dup", 3L -> "c"),
      deletes = kv(2L -> "whatever"),
      pks = Seq("key"))
    assert((ins, del) === (1L, 1L))
    assert(t.snapshot().orderBy("key").as[(Long, String)].collect().toSeq
      === Seq(1L -> "a", 3L -> "c"))
    val ch = t.readChanges(1, 1).select("key", "_change_type")
      .as[(Long, String)].collect().toSet
    assert(ch === Set((3L, "insert"), (2L, "delete")))
  }

  test("merge applies deletes before inserts: same-batch PK replacement") {
    // the change-set an upstream overwrite produces: delete old row and
    // insert a new row under the same PK, in one batch
    val t = MiniLake(spark, dir)
    t.create(kv(1L -> "a", 2L -> "b"))
    val (ins, del) = t.merge(
      inserts = kv(2L -> "b2", 3L -> "c"),
      deletes = kv(1L -> "a", 2L -> "b"),
      pks = Seq("key"))
    assert((ins, del) === (2L, 2L))
    assert(t.snapshot().orderBy("key").as[(Long, String)].collect().toSeq
      === Seq(2L -> "b2", 3L -> "c"))
  }

  test("merge replay is idempotent (at-least-once safety)") {
    val t = MiniLake(spark, dir)
    t.create(kv(1L -> "a"))
    t.merge(kv(2L -> "b"), kv(), Seq("key"))
    t.merge(kv(2L -> "b"), kv(), Seq("key")) // replay
    assert(t.snapshot().count() === 2L)
    // replayed commit exists but recorded zero changes rows
    assert(t.readChanges(2, 2).count() === 0L)
  }

  test("update records preimage/postimage and preserves other rows") {
    val t = MiniLake(spark, dir)
    t.create(kv(1L -> "a", 2L -> "b"))
    t.update(col("key") === 1L, Map("value" -> lit("a2")))
    assert(t.snapshot().orderBy("key").as[(Long, String)].collect().toSeq
      === Seq(1L -> "a2", 2L -> "b"))
    val ch = t.readChanges(1, 1).select("key", "value", "_change_type")
      .as[(Long, String, String)].collect().toSet
    assert(ch === Set((1L, "a", "update_preimage"), (1L, "a2", "update_postimage")))
  }

  test("vacuum neither advances the version nor breaks reads") {
    // test_datalake.py:229-269
    val t = MiniLake(spark, dir)
    t.create(kv(1L -> "a"))
    t.overwrite(kv(2L -> "b")) // makes v0 files unreferenced
    val before = t.latestVersion
    t.vacuum(retainMillis = 0L)
    assert(t.latestVersion === before)
    assert(t.snapshot().as[(Long, String)].collect().toSeq === Seq(2L -> "b"))
    // change files survive vacuum: the delete of key 1 is still visible
    assert(t.readChanges(1, 1).filter("_change_type = 'delete'").count() === 1L)
  }

  test("vacuum retention keeps young unreferenced files, then reclaims them") {
    val t = MiniLake(spark, dir)
    t.create(kv(1L -> "a"))
    // two update rewrites: v1's data files become unreferenced at v2
    // and update commits carry dedicated change files, so the stale
    // data files are genuinely collectable (create's insert-only data
    // files stay protected as that commit's change feed)
    t.update(col("key") === 1L, Map("value" -> lit("a2")))
    t.update(col("key") === 1L, Map("value" -> lit("a3")))
    def parquetCount: Long = {
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get(dir, "data"))
      try s.filter(_.toString.endsWith(".parquet")).count() finally s.close()
    }
    val before = parquetCount
    // a retention window longer than the files' age deletes nothing —
    // the guard that protects an in-flight concurrent append's files
    t.vacuum(retainMillis = 60 * 60 * 1000L)
    assert(parquetCount === before)
    // explicit zero window reclaims the stale rewrite files
    // (single-writer opt-in; the default is a 7-day retention)
    t.vacuum(retainMillis = 0L)
    assert(parquetCount < before)
    assert(t.snapshot().as[(Long, String)].collect().toSeq === Seq(1L -> "a3"))
  }

  test("default vacuum is safe against an in-flight concurrent append") {
    val t = MiniLake(spark, dir)
    t.create(kv(1L -> "a"))
    t.overwrite(kv(2L -> "b")) // v0's files are unreferenced but young
    // simulate appendConcurrent mid-flight: data files staged into a
    // c-<uuid> dir, log entry NOT yet published — exactly the window a
    // zero-retention vacuum would destroy
    val staged = java.nio.file.Paths.get(dir, "data", "c-inflight0001")
    java.nio.file.Files.createDirectories(staged)
    java.nio.file.Files.write(staged.resolve("part-0.parquet"), Array[Byte](1))
    def count: Long = {
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get(dir, "data"))
      try s.filter(_.toString.endsWith(".parquet")).count() finally s.close()
    }
    val before = count
    t.vacuum() // DEFAULT retention: young files survive
    assert(count === before, "default vacuum deleted young files")
    assert(java.nio.file.Files.exists(staged.resolve("part-0.parquet")))
    // real race: appends publishing while default vacuums interleave
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val appender = new Thread(() => try {
      (0 until 4).foreach(i => t.appendConcurrent(kv((10L + i) -> s"t$i")))
    } catch { case e: Throwable => errors.add(e) })
    val vac = new Thread(() => try {
      (0 until 8).foreach(_ => t.vacuum())
    } catch { case e: Throwable => errors.add(e) })
    appender.start(); vac.start(); appender.join(); vac.join()
    assert(errors.isEmpty, errors)
    // every published append still reads back intact
    assert(t.snapshot().orderBy("key").as[(Long, String)].collect().toSeq ===
      Seq(2L -> "b", 10L -> "t0", 11L -> "t1", 12L -> "t2", 13L -> "t3"))
  }

  test("vacuum reclaims change-file debris but keeps entry-listed change files") {
    val t = MiniLake(spark, dir)
    t.create(kv(1L -> "a"))
    t.overwrite(kv(2L -> "b")) // v1 carries real change files
    // debris: a commit attempt that wrote its changes dir but lost the
    // publish race (no entry lists these files)
    val debris = java.nio.file.Paths.get(dir, "changes", "v=1", "w-loser00")
    java.nio.file.Files.createDirectories(debris)
    java.nio.file.Files.write(debris.resolve("part-0.parquet"), Array[Byte](1))
    t.vacuum(retainMillis = 0L)
    assert(!java.nio.file.Files.exists(debris.resolve("part-0.parquet")))
    // the real change feed still reads
    assert(t.readChanges(1, 1).filter("_change_type = 'delete'").count() === 1L)
  }

  test("snapshot time-travel reads an old version") {
    val t = MiniLake(spark, dir)
    t.create(kv(1L -> "a"))
    t.append(kv(2L -> "b"))
    t.overwrite(kv(3L -> "c"))
    assert(t.snapshot(0).as[(Long, String)].collect().toSeq === Seq(1L -> "a"))
    assert(t.snapshot(1).orderBy("key").as[(Long, String)].collect().toSeq
      === Seq(1L -> "a", 2L -> "b"))
    assert(t.snapshot(2).as[(Long, String)].collect().toSeq === Seq(3L -> "c"))
  }

  test("a failed commit's orphaned data dir does not block the retry") {
    val t = MiniLake(spark, dir)
    t.create(kv(1L -> "a"))
    // simulate a writer that died after writing its attempt dir under
    // data/v=1 but before publishing the log entry — the debris must
    // neither block the next writer nor leak into its commit (the log
    // entry lists exact files; directory contents are not authoritative)
    val orphan = java.nio.file.Paths.get(dir, "data", "v=1", "w-deadbeef")
    java.nio.file.Files.createDirectories(orphan)
    java.nio.file.Files.write(orphan.resolve("stale.parquet"), Array[Byte](1))
    t.append(kv(2L -> "b"))
    assert(t.latestVersion === 1L)
    assert(t.snapshot().orderBy("key").as[(Long, String)].collect().toSeq
      === Seq(1L -> "a", 2L -> "b"))
    assert(!t.snapshot().inputFiles.exists(_.contains("stale")))
  }

  test("appendIfAbsent applies each txn version once (streaming replay)") {
    val t = MiniLake(spark, dir)
    assert(t.appendIfAbsent(kv(1L -> "a"), "sinkA", 0L))
    assert(t.latestVersion === 0L)
    // replay of the same micro-batch (crash between write and sink
    // bookkeeping) — skipped, no new version, no duplicate rows
    assert(!t.appendIfAbsent(kv(1L -> "a"), "sinkA", 0L))
    assert(t.latestVersion === 0L)
    assert(t.snapshot().count() === 1L)
    // next batch commits; an independent app's txn counter is separate
    assert(t.appendIfAbsent(kv(2L -> "b"), "sinkA", 1L))
    assert(t.appendIfAbsent(kv(3L -> "c"), "sinkB", 0L))
    assert(t.latestVersion === 2L)
    assert(t.lastTxnVersion("sinkA") === 1L)
    assert(t.lastTxnVersion("sinkB") === 0L)
    assert(t.lastTxnVersion("nobody") === -1L)
    // txn markers survive reopen (they live in the commit log)
    assert(!MiniLake(spark, dir).appendIfAbsent(kv(9L -> "x"), "sinkA", 1L))
  }

  test("compactFiles rewrites many small files into one commit, no logical change") {
    val t = MiniLake(spark, dir)
    t.create(kv(1L -> "a"))
    (2L to 6L).foreach(i => t.append(kv(i -> s"v$i")))
    val before = t.snapshot().orderBy("key").as[(Long, String)].collect().toSeq
    val filesBefore = t.snapshot().inputFiles.length
    assert(filesBefore >= 6)
    val vBefore = t.latestVersion
    val changesBefore = t.readChanges(0, vBefore)
      .select("key", "_change_type").as[(Long, String)].collect().sorted.toSeq

    t.compactFiles()
    assert(t.latestVersion === vBefore + 1)
    assert(t.snapshot().inputFiles.length === 1)
    assert(t.snapshot().orderBy("key").as[(Long, String)].collect().toSeq === before)
    // OPTIMIZE semantics: the change feed sees nothing from compaction
    val changesAfter = t.readChanges(0, t.latestVersion)
      .select("key", "_change_type").as[(Long, String)].collect().sorted.toSeq
    assert(changesAfter === changesBefore)
    // time travel to the pre-compaction version still works
    assert(t.snapshot(vBefore).count() === 6L)
    // and vacuum reclaims the small files without breaking the feed
    t.vacuum(retainMillis = 0L)
    assert(t.snapshot().orderBy("key").as[(Long, String)].collect().toSeq === before)
    assert(t.readChanges(0, t.latestVersion)
      .select("key", "_change_type").as[(Long, String)].collect().sorted.toSeq
      === changesBefore)
  }

  test("racing committers: exactly one wins the version, loser fails cleanly") {
    val t = MiniLake(spark, dir)
    t.create(kv(1L -> "a"))
    // both threads read latestVersion=0 and race to publish version 1;
    // the hard-link publish admits exactly one
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val failures = new java.util.concurrent.atomic.AtomicInteger(0)
    val threads = (0 until 2).map { i =>
      new Thread(() => {
        barrier.await()
        try t.append(kv((10L + i) -> s"t$i"))
        catch { case _: Throwable => failures.incrementAndGet(); () }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    // Either both serialized cleanly (no overlap in practice) or the
    // loser failed — never two writers claiming one version, never a
    // corrupted table.
    val versions = (0L to t.latestVersion).toSeq
    assert(versions.size === t.latestVersion + 1)
    val snap = t.snapshot().orderBy("key").as[(Long, String)].collect()
    assert(snap.length === 1 + (2 - failures.get()))
    assert(snap.head === (1L -> "a"))
    // a subsequent commit proceeds normally
    t.append(kv(99L -> "z"))
    assert(t.snapshot().count() === snap.length + 1)
  }

  test("appendConcurrent: racing appends ALL land (optimistic retry)") {
    val t = MiniLake(spark, dir)
    t.create(kv(1L -> "a"))
    val n = 4
    val barrier = new java.util.concurrent.CyclicBarrier(n)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until n).map { i =>
      new Thread(() => {
        barrier.await()
        // separate handle per writer, like distinct jobs would hold
        try MiniLake(spark, dir).appendConcurrent(kv((10L + i) -> s"t$i"))
        catch { case e: Throwable => errors.add(e); () }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errors.isEmpty, errors)
    assert(t.latestVersion === n.toLong) // v0 create + n appends
    val snap = t.snapshot().orderBy("key").as[(Long, String)].collect().toSeq
    assert(snap === (1L -> "a") +: (0 until n).map(i => (10L + i) -> s"t$i"))
    // the change feed carries every append as inserts
    val ch = t.readChanges(1, t.latestVersion)
      .select("key", "_change_type").as[(Long, String)].collect().toSet
    assert(ch === (0 until n).map(i => (10L + i, "insert")).toSet)
    // even a zero-window vacuum keeps the c-<uuid> data files
    // (live + change-backed)
    t.vacuum(retainMillis = 0L)
    assert(t.snapshot().count() === (n + 1).toLong)
  }

  test("snapshotForRange skips files whose stats exclude the range") {
    val t = MiniLake(spark, dir)
    // time-ordered ingest: each commit covers a disjoint key range,
    // the shape stats-skipping exists for
    t.create(kv((0L until 100L).map(k => k -> s"v$k"): _*))
    t.append(kv((100L until 200L).map(k => k -> s"v$k"): _*))
    t.append(kv((200L until 300L).map(k => k -> s"v$k"): _*))

    val all = t.snapshot()
    val ranged = t.snapshotForRange("key", 120L, 180L)
    assert(ranged.count() === 61L)
    assert(ranged.agg(org.apache.spark.sql.functions.min("key"),
      org.apache.spark.sql.functions.max("key")).as[(Long, Long)]
      .head() === (120L, 180L))
    // pruning is physical: only commit v1's files open
    assert(ranged.inputFiles.nonEmpty)
    assert(ranged.inputFiles.length < all.inputFiles.length)
    assert(ranged.inputFiles.forall(_.contains("/v=1/")))
    // compaction rewrites carry fresh stats — skipping keeps working
    t.compactFiles()
    t.vacuum(retainMillis = 0L)
    val afterCompact = t.snapshotForRange("key", 120L, 180L)
    assert(afterCompact.count() === 61L)
  }

  test("snapshotForStringRange skips files via UTF8 min/max stats") {
    val t = MiniLake(spark, dir)
    // dictionary-clustered ingest: each commit holds a disjoint
    // alphabetical slice, the shape string-skipping exists for
    t.create(kv((0L until 50L).map(k => k -> s"a$k"): _*))
    t.append(kv((50L until 100L).map(k => k -> s"m$k"): _*))
    t.append(kv((100L until 150L).map(k => k -> s"x$k"): _*))

    val all = t.snapshot()
    val ranged = t.snapshotForStringRange("value", "m", "n")
    assert(ranged.count() === 50L)
    // pruning is physical: only commit v1's files open
    assert(ranged.inputFiles.nonEmpty)
    assert(ranged.inputFiles.length < all.inputFiles.length)
    assert(ranged.inputFiles.forall(_.contains("/v=1/")))
    // values longer than the stats cap neither break the write nor
    // produce unsound pruning: the oversized-value file is kept
    val big = "z" * 200
    t.append(kv(900L -> big))
    val afterBig = t.snapshotForStringRange("value", "z", "z" * 201)
    assert(afterBig.count() === 1L)
  }

  test("append with mismatched schema is rejected") {
    val t = MiniLake(spark, dir)
    t.create(kv(1L -> "a"))
    val bad = Seq((1L, 2.0)).toDF("key", "value")
    intercept[IllegalArgumentException] { t.append(bad) }
  }

  test("delete removes matching rows, keeps NULL-predicate rows, " +
      "publishes delete preimages") {
    val t = MiniLake(spark, dir)
    val rows = Seq((1L, "a"), (2L, "b"), (3L, null.asInstanceOf[String]))
      .toDF("key", "value")
    t.create(rows)
    val n = t.delete(col("value") === "a")      // NULL for key 3 → kept
    assert(n === 1L)
    assert(t.latestVersion === 1L)
    assert(t.snapshot().select("key").as[Long].collect().toSet ===
      Set(2L, 3L))
    val ch = t.readChanges(1, 1)
      .select("key", "_change_type").as[(Long, String)].collect().toSet
    assert(ch === Set((1L, "delete")))
  }

  test("zero-match delete commits a version with no changes") {
    val t = MiniLake(spark, dir)
    t.create(kv(1L -> "a"))
    assert(t.delete(col("value") === "nope") === 0L)
    assert(t.latestVersion === 1L)
    assert(t.snapshot().count() === 1L)
    assert(t.readChanges(1, 1).isEmpty)
  }

  test("restoreTo recreates the old live set as a NEW version with " +
      "row-level changes; history survives") {
    val t = MiniLake(spark, dir)
    t.create(kv(1L -> "a", 2L -> "b"))           // v0
    t.delete(col("key") === 1L)                  // v1
    t.append(kv(9L -> "z"))                      // v2
    t.restoreTo(0)                               // v3: == v0
    assert(t.latestVersion === 3L)
    assert(t.snapshot().as[(Long, String)].collect().toSet ===
      Set(1L -> "a", 2L -> "b"))
    // the restore's change feed: 9 leaves, 1 returns, 2 untouched
    val ch = t.readChanges(3, 3)
      .select("key", "_change_type").as[(Long, String)].collect().toSet
    assert(ch === Set((9L, "delete"), (1L, "insert")))
    // time travel still sees every intermediate state
    assert(t.snapshot(asOf = 1).select("key").as[Long].collect().toSet
      === Set(2L))
    assert(t.snapshot(asOf = 2).select("key").as[Long].collect().toSet
      === Set(2L, 9L))
  }

  test("CHECK constraints: null passes, all write modes enforce, log survives reopen") {
    import org.apache.spark.sql.functions._
    def nkv(rows: (Long, java.lang.Long)*) =
      rows.toDF("key", "n")
    val t = MiniLake(spark, dir)
    t.create(nkv(1L -> 5L, 2L -> null)) // NULL must be admissible below
    t.addCheckConstraint("n_pos", "n > 0")
    // SQL-standard CHECK: NULL predicate passes — both at add time
    // (above: row 2 has n NULL) and at write time
    t.append(nkv(3L -> null))
    // every data-carrying write mode enforces
    intercept[IllegalArgumentException] { t.append(nkv(4L -> -1L)) }
    intercept[IllegalArgumentException] { t.appendConcurrent(nkv(4L -> -1L)) }
    intercept[IllegalArgumentException] {
      t.appendIfAbsent(nkv(4L -> -1L), "app", 1L)
    }
    intercept[IllegalArgumentException] {
      t.update(col("key") === 1L, Map("n" -> lit(-7L)))
    }
    intercept[IllegalArgumentException] {
      t.mergeUpdate(nkv(9L -> -2L), Seq("key"))
    }
    // rejected attempts must not have committed anything
    assert(t.snapshot().filter(col("n") < 0).isEmpty)
    assert(t.snapshot().count() === 3L)
    // duplicate add and unknown drop are refused
    intercept[IllegalArgumentException] {
      t.addCheckConstraint("n_pos", "n > 0")
    }
    intercept[IllegalArgumentException] { t.dropCheckConstraint("nope") }
    // the active set folds from the log: a fresh handle sees it
    val reopened = MiniLake(spark, dir)
    assert(reopened.checkConstraints === Map("n_pos" -> "n > 0"))
    intercept[IllegalArgumentException] { reopened.append(nkv(5L -> 0L)) }
    // lifecycle commits are visible in DESCRIBE HISTORY
    val modes = t.history.select("operation")
      .as[String].collect().toSeq
    assert(modes.contains("addConstraint"))
    // drop re-admits and the violating write then blocks a re-add
    t.dropCheckConstraint("n_pos")
    t.append(nkv(6L -> -3L))
    intercept[IllegalArgumentException] {
      t.addCheckConstraint("n_pos", "n > 0")
    }
    assert(MiniLake(spark, dir).checkConstraints === Map.empty)
  }

  test("restoreTo preserves duplicate-row multiplicity (multiset)") {
    val t = MiniLake(spark, dir)
    t.create(kv(1L -> "a", 1L -> "a", 2L -> "b")) // v0: key 1 twice
    t.delete(col("key") === 1L)                   // v1: both copies gone
    t.restoreTo(0)                                // v2
    val back = t.snapshot().as[(Long, String)].collect().toSeq.sorted
    assert(back === Seq(1L -> "a", 1L -> "a", 2L -> "b"))
    val ins = t.readChanges(2, 2).filter(col("_change_type") === "insert")
    assert(ins.count() === 2L, "both duplicate copies must re-insert")
  }

  test("compactZorder turns an unprunable interleaved layout prunable") {
    val t = MiniLake(spark, dir)
    // hash-interleaved ingest: every commit's file spans the FULL
    // (a, b) domain, so the 2-D range probe can exclude nothing
    val df = (0L until 4000L).map(k => (k, k % 64)).toDF("a", "b")
    t.create(df.filter($"a" % 4 === 0).coalesce(1))
    (1 to 3).foreach(k => t.append(df.filter($"a" % 4 === k).coalesce(1)))
    val probe = Map("a" -> (1000L, 1255L), "b" -> (0L, 15L))
    val allBefore = t.snapshot().inputFiles.length
    val before = t.snapshotForRanges(probe)
    assert(before.inputFiles.length === allBefore) // zero pruning
    val expect = before.count()
    assert(expect === 64L)

    t.compactZorder(("a", "b"), 16)
    val after = t.snapshotForRanges(probe)
    assert(after.count() === expect)               // rewrite changed no row
    // pruning is physical: the z-layout answers the box from a strict
    // subset of its 16 tight-stats files
    val allAfter = t.snapshot().inputFiles.length
    assert(allAfter > allBefore)                   // curve layout landed
    assert(after.inputFiles.nonEmpty)
    assert(after.inputFiles.length < allAfter)
    assert(t.history.filter($"operation" === "optimize").count() === 1L)
  }

  test("renameColumn is metadata-only; reads and CDF span the rename") {
    val t = MiniLake(spark, dir)
    t.create(kv(1L -> "a"))
    t.append(kv(2L -> "b"))
    t.renameColumn("value", "label")
    // metadata-only: the rename commit added and removed ZERO files
    val h = t.history.filter($"operation" === "rename")
      .select("n_files_added", "n_files_removed").as[(Long, Long)]
      .collect()
    assert(h.toSeq === Seq((0L, 0L)))
    // appends must speak the new schema
    intercept[IllegalArgumentException] { t.append(kv(9L -> "x")) }
    t.append(Seq((3L, "c")).toDF("key", "label"))

    assert(t.schema.fieldNames.toSeq === Seq("key", "label"))
    val snap = t.snapshot().orderBy("key").as[(Long, String)].collect()
    assert(snap.toSeq === Seq(1L -> "a", 2L -> "b", 3L -> "c"))
    // time travel resolves each version under ITS schema
    assert(t.snapshot(asOf = 1).columns.toSeq === Seq("key", "value"))
    // CDF slices from before the rename surface under the new name
    val ch = t.readChanges(0, 3)
    assert(ch.columns.contains("label") && !ch.columns.contains("value"))
    assert(ch.filter($"label" === "a").count() === 1L)
    // COW delete over the mixed-era file set, predicate in new terms
    assert(t.delete($"label" === "b") === 1L)
    assert(t.snapshot().orderBy("key").as[(Long, String)].collect()
      .toSeq === Seq(1L -> "a", 3L -> "c"))
    // RESTORE across the rename: the pre-rename snapshot's data comes
    // back under the CURRENT column names (reverse mapping applied)
    t.restoreTo(0)
    assert(t.schema.fieldNames.toSeq === Seq("key", "label"))
    assert(t.snapshot().orderBy("key").as[(Long, String)].collect()
      .toSeq === Seq(1L -> "a"))
    // ...and the restore's change feed tells the row-level story in
    // current names: key 3 (added after v0) leaves, nothing returns
    val rch = t.readChanges(t.latestVersion, t.latestVersion)
      .select("key", "label", "_change_type")
      .as[(Long, String, String)].collect().toSet
    assert(rch === Set((3L, "c", "delete")))
    t.restoreTo(2) // at the rename itself: also fine
    assert(t.snapshot().orderBy("key").as[(Long, String)].collect()
      .toSeq === Seq(1L -> "a", 2L -> "b"))
  }

  test("restore across a mergeSchema widening null-fills the new " +
      "column; across a drop or re-add it refuses explicitly") {
    val t = MiniLake(spark, dir)
    t.create(kv(1L -> "a", 2L -> "b"))                       // v0
    t.append(Seq((3L, "c", 7L)).toDF("key", "value", "score"),
      mergeSchema = true)                                    // v1
    t.restoreTo(0)                                           // v2
    assert(t.schema.fieldNames.toSeq === Seq("key", "value", "score"))
    assert(t.snapshot().orderBy("key")
      .select("key", "score").as[(Long, Option[Long])].collect().toSeq ===
      Seq(1L -> None, 2L -> None))
    // drop since v: refuse, name the column
    t.dropColumn("score")                                    // v3
    val err = intercept[IllegalArgumentException] { t.restoreTo(1) }
    assert(err.getMessage.contains("score"))
    // re-add since v: restoring would resurrect the old incarnation
    t.append(Seq((4L, "d", 99L)).toDF("key", "value", "score"),
      mergeSchema = true)                                    // v4 (reborn)
    val err2 = intercept[IllegalArgumentException] { t.restoreTo(1) }
    assert(err2.getMessage.contains("reborn"))
    // restore to a version at/after the re-add works
    t.restoreTo(4)
    assert(t.snapshot().filter($"score" === 99L).count() === 1L)
  }

  test("dropColumn is metadata-only; time travel still sees the column") {
    val t = MiniLake(spark, dir)
    t.create(kv(1L -> "a", 2L -> "b"))
    t.dropColumn("value")
    val h = t.history.filter($"operation" === "drop")
      .select("n_files_added", "n_files_removed").as[(Long, Long)]
      .collect()
    assert(h.toSeq === Seq((0L, 0L)))
    intercept[IllegalArgumentException] { t.append(kv(9L -> "x")) }
    t.append(Seq(Tuple1(3L)).toDF("key"))
    assert(t.snapshot().columns.toSeq === Seq("key"))
    assert(t.snapshot().orderBy("key").as[Long].collect().toSeq ===
      Seq(1L, 2L, 3L))
    assert(t.snapshot(asOf = 0).columns.toSeq === Seq("key", "value"))
    intercept[IllegalArgumentException] { t.dropColumn("key") } // last col
  }

  test("re-adding a dropped column gives it a fresh per-era identity: " +
      "pre-drop files read NULL, post-re-add files read data") {
    val t = MiniLake(spark, dir)
    t.create(kv(1L -> "secret-a", 2L -> "secret-b")
      .withColumn("extra", lit("x")))                        // v0
    t.dropColumn("value")                                    // v1
    // mergeSchema re-add is ALLOWED — the column is reborn at v2; the
    // retired "secret-*" bytes must never resurface under it
    t.append(Seq((3L, "x", "fresh")).toDF("key", "extra", "value"),
      mergeSchema = true)                                    // v2
    assert(t.schema.fieldNames.toSeq === Seq("key", "extra", "value"))
    val snap = t.snapshot().orderBy("key")
      .select("key", "value").as[(Long, Option[String])].collect().toSeq
    assert(snap === Seq(1L -> None, 2L -> None, 3L -> Some("fresh")))
    // CDF: pre-drop insert slices also read NULL for the reborn name
    val ch = t.readChanges(0, 2)
      .select("key", "value", "_commit_version")
      .as[(Long, Option[String], Long)].collect().toSet
    assert(ch === Set((1L, None, 0L), (2L, None, 0L),
      (3L, Some("fresh"), 2L)))
    // a COLD reopen (checkpoint-free here, but fold-cache-free) and a
    // post-re-add write both behave
    val fresh = MiniLake(spark, dir)
    fresh.append(Seq((4L, "x", "newer")).toDF("key", "extra", "value"))
    assert(fresh.snapshot().filter($"key" <= 2L)
      .filter($"value".isNotNull).isEmpty)
    assert(fresh.snapshot().filter($"value" === "newer").count() === 1L)
    // dropping the REBORN column again and re-adding once more: files
    // of the FIRST rebirth era (v2/v3 data) now read NULL too
    fresh.dropColumn("value")                                // v4
    fresh.append(Seq((5L, "x", "third")).toDF("key", "extra", "value"),
      mergeSchema = true)                                    // v5
    val snap2 = fresh.snapshot().orderBy("key")
      .select("key", "value").as[(Long, Option[String])].collect().toSeq
    assert(snap2 === Seq(1L -> None, 2L -> None, 3L -> None, 4L -> None,
      5L -> Some("third")))
    // rename INTO a dropped name is still refused: pre-drop file
    // groups would hold two physical sources for one logical column
    fresh.dropColumn("value")                                // v6
    val err2 = intercept[IllegalArgumentException] {
      fresh.renameColumn("extra", "value")
    }
    assert(err2.getMessage.contains("previously dropped"))
  }

  test("reborn column carries its fresh identity through a rename " +
      "and a checkpointed cold reopen") {
    val t = MiniLake(spark, dir)
    t.create(kv(1L -> "old", 2L -> "old2"))                  // v0
    t.dropColumn("value")                                    // v1
    t.append(Seq((3L, "new3")).toDF("key", "value"),
      mergeSchema = true)                                    // v2
    t.renameColumn("value", "label")                         // v3
    // push past a checkpoint boundary so the cold open goes through
    // manifest+parts (reborn must survive serialization)
    for (i <- 4L to 11L)
      t.append(Seq((i, s"new$i")).toDF("key", "label"))      // v4..v11
    val fresh = MiniLake(spark, dir)
    val got = fresh.snapshot().orderBy("key")
      .select("key", "label").as[(Long, Option[String])].collect().toSeq
    assert(got === (Seq(1L -> None, 2L -> None) ++
      (3L to 11L).map(i => i -> Some(s"new$i"))))
  }

  test("checkpointed open ≡ full-fold open across every commit mode") {
    val t = MiniLake.bucketed(spark, dir, Seq("key"), numBuckets = 4)
    // a lifecycle long enough to cross several checkpoint boundaries,
    // touching every commit mode the fold distinguishes
    t.create(kv(1L -> "a", 2L -> "b"))                       // v0
    t.append(kv(3L -> "c"))                                  // v1
    t.merge(inserts = kv(4L -> "d"), deletes = kv(2L -> "b"),
      pks = Seq("key"))                                      // v2
    t.update($"key" === 1L, Map("value" -> lit("a2")))       // v3
    t.appendIfAbsent(kv(5L -> "e"), "app1", 7L)              // v4
    t.delete($"key" === 5L)                                  // v5
    t.deleteVectored($"key" === 4L)                          // v6
    t.addCheckConstraint("key_pos", "key > 0")               // v7
    t.append(kv(6L -> "f"))                                  // v8
    t.materializeDeletes()                                   // v9 -> ckpt
    t.compactFiles()                                         // v10 -> ckpt
    t.restoreTo(8L)                                          // v11
    t.dropCheckConstraint("key_pos")                         // v12
    t.append(kv(7L -> "g", 8L -> "h").withColumn("extra", lit(1L)),
      mergeSchema = true)                                    // v13
    t.renameColumn("extra", "score")                         // v14
    t.mergeUpdate(Seq((7L, "g2", 9L)).toDF("key", "value", "score"),
      Seq("key"))                                            // v15
    t.dropColumn("score")                                    // v16
    t.overwrite(kv(1L -> "z", 9L -> "y"))                    // v17
    t.appendConcurrent(kv(10L -> "w"))                       // v18
    t.compactZorder(("key", "key"), numFiles = 2)            // v19 -> ckpt
    t.append(kv(11L -> "v"))                                 // v20

    // checkpoints landed at the interval
    val ckpts = Files.list(
        java.nio.file.Paths.get(dir, "_log", "_checkpoints"))
      .iterator(); var n = 0
    while (ckpts.hasNext) { ckpts.next(); n += 1 }
    assert(n >= 2, s"expected >=2 checkpoints, found $n")
    assert(Files.exists(java.nio.file.Paths.get(dir, "_log",
      "_last_checkpoint")))

    // a FRESH instance (cold cache) must reconstruct the identical
    // fold from checkpoint+tail at every version, including eras
    // straddling rename/drop/DV/constraint commits
    for (v <- 0L to t.latestVersion) {
      val fast = MiniLake(spark, dir).state(v)
      val full = t.foldStateScratch(v)
      assert(fast.version === full.version, s"v=$v")
      assert(fast.liveFiles === full.liveFiles, s"v=$v liveFiles")
      assert(fast.liveDvFiles === full.liveDvFiles, s"v=$v dv")
      assert(fast.constraints === full.constraints, s"v=$v constraints")
      assert(fast.renames === full.renames, s"v=$v renames")
      assert(fast.dropped === full.dropped, s"v=$v dropped")
      assert(fast.txnMax === full.txnMax, s"v=$v txn")
      assert(fast.changeBacked === full.changeBacked, s"v=$v changeBacked")
      assert(fast.listedChanges === full.listedChanges, s"v=$v listed")
      assert(fast.legacyVersions === full.legacyVersions, s"v=$v legacy")
      assert(fast.schemaJson === full.schemaJson, s"v=$v schema")
      // stats: checkpoints prune dead files' stats, so compare on the
      // files any read can consult — the live set
      val liveSet = full.liveFiles.toSet ++ full.liveDvFiles
      assert(fast.stats.view.filterKeys(liveSet).toMap ===
        full.stats.view.filterKeys(liveSet).toMap, s"v=$v stats")
      assert(fast.statsStr.view.filterKeys(liveSet).toMap ===
        full.statsStr.view.filterKeys(liveSet).toMap, s"v=$v statsStr")
      assert(fast.statsDbl.view.filterKeys(liveSet).toMap ===
        full.statsDbl.view.filterKeys(liveSet).toMap, s"v=$v statsDbl")
    }

    // observable equivalence on the hot read paths
    val fresh = MiniLake(spark, dir)
    assert(fresh.snapshot().orderBy("key").as[(Long, String)]
      .collect().toSeq === Seq(1L -> "z", 9L -> "y", 10L -> "w", 11L -> "v"))
    assert(fresh.lastTxnVersion("app1") === 7L)
    assert(fresh.checkConstraints === Map.empty)

    // a corrupt checkpoint (and pointer) must only cost speed, never
    // correctness: reads fall back to older checkpoints / full fold
    val ckptRoot = java.nio.file.Paths.get(dir, "_log", "_checkpoints")
    MiniLake.usingStream(Files.list(ckptRoot))(_.foreach(p =>
      Files.write(p, "not json".getBytes)))
    Files.write(java.nio.file.Paths.get(dir, "_log", "_last_checkpoint"),
      "garbage".getBytes)
    val recovered = MiniLake(spark, dir)
    assert(recovered.state(t.latestVersion) ===
      t.foldStateScratch(t.latestVersion))
  }

  test("multi-part checkpoints fold identically when forced to many " +
      "small parts") {
    spark.conf.set("graft.lake.checkpointPartEntries", "2")
    try {
      val t = MiniLake(spark, dir)
      t.create(kv(1L -> "a"))
      for (i <- 2L to 21L) t.append(kv(i -> s"v$i"))   // v1..v20
      // v20's checkpoint carries 21 live files + 21 change refs →
      // far over the 2-entry cap → a genuinely multi-part layout
      val ckptRoot = java.nio.file.Paths.get(dir, "_log", "_checkpoints")
      val parts = MiniLake.usingStream(Files.list(ckptRoot))(
        _.count(_.getFileName.toString.startsWith("20.part-")))
      assert(parts >= 4, s"expected a multi-part checkpoint, got $parts")
      assert(Files.exists(ckptRoot.resolve("20.manifest.json")))
      // a COLD open assembled from manifest + parts ≡ the scratch fold
      val fresh = MiniLake(spark, dir)
      for (v <- Seq(5L, 15L, 20L, 21L))
        assert(fresh.state(v) === t.foldStateScratch(v), s"v=$v")
      assert(fresh.snapshot().count() === 21)
    } finally spark.conf.unset("graft.lake.checkpointPartEntries")
  }

  test("checkpoint bytes are bounded by live state, not history; " +
      "CDF reads below the retention floor refuse explicitly") {
    // retention 0: every checkpoint prunes ALL change metadata at or
    // before its own wall-clock — the maximal-churn worst case
    spark.conf.set("graft.lake.changeRetentionMillis", "0")
    try {
      val t = MiniLake(spark, dir)
      t.create(kv(0L -> "seed"))
      def ckptBytes(v: Long): Long = {
        val root = java.nio.file.Paths.get(dir, "_log", "_checkpoints")
        MiniLake.usingStream(Files.list(root))(_
          .filter(_.getFileName.toString.startsWith(s"$v."))
          .map(Files.size(_): java.lang.Long).foldLeft(0L)(_ + _))
      }
      // two history epochs of identical live-state shape: appends
      // compacted away by OPTIMIZE, so the live set at v20 and v40 is
      // one file each — only HISTORY differs (2× the commits)
      for (i <- 1L to 19L) t.append(kv(i -> s"v$i"))
      t.compactFiles()                                  // v20 → ckpt
      val bytes20 = ckptBytes(20L)
      for (i <- 21L to 39L) t.append(kv(i -> s"v$i"))
      t.compactFiles()                                  // v40 → ckpt
      val bytes40 = ckptBytes(40L)
      assert(bytes20 > 0 && bytes40 > 0)
      // bounded by live state: twice the history must NOT mean a
      // bigger checkpoint (allow slack for the larger compacted file's
      // stats strings)
      assert(bytes40 <= bytes20 * 3 / 2,
        s"checkpoint grew with history: v20=$bytes20 v40=$bytes40")
      // the cold-open state carries the pruned metadata + the floor
      val fresh = MiniLake(spark, dir)
      val st = fresh.state(fresh.latestVersion)
      assert(st.listedChanges.isEmpty && st.changeBacked.isEmpty)
      assert(st.changeFloor > 0L)
      // CDF below the floor refuses with the explicit retention error
      val err = intercept[IllegalStateException] {
        fresh.readChanges(0, fresh.latestVersion)
      }
      assert(err.getMessage.contains("retention"))
      // an empty range above the floor is still the schema'd no-op
      assert(fresh.readChanges(st.changeFloor,
        st.changeFloor - 1).isEmpty)
      // snapshots are untouched by change-metadata retention
      assert(fresh.snapshot().count() === 39)
      // past-retention change files are vacuum-reclaimable on the
      // pruned state: the retired pre-optimize data files (which
      // doubled as the insert change feed) age out
      fresh.vacuum(retainMillis = 0)
      assert(fresh.snapshot().count() === 39)
    } finally spark.conf.unset("graft.lake.changeRetentionMillis")
  }

  test("snapshotForDoubleRange skips files whose double stats " +
      "exclude the range") {
    val t = MiniLake(spark, dir)
    def batch(lo: Double, n: Int) =
      (0 until n).map(i => (lo + i, s"r$i")).toDF("score", "tag")
    t.create(batch(0.0, 100))     // scores 0..99
    t.append(batch(1000.0, 100))  // 1000..1099
    t.append(batch(2000.0, 100))  // 2000..2099
    val hit = t.snapshotForDoubleRange("score", 1010.5, 1020.5)
    assert(hit.count() === 10)
    // physical pruning: only the middle commit's files are opened
    val opened = hit.inputFiles.toSeq
    assert(opened.nonEmpty)
    assert(opened.forall(_.contains("/v=1/")), opened.mkString("\n"))
    // files without double stats are conservatively kept, exact
    // filter still applies (empty result, no crash, full scan ok)
    assert(t.snapshotForDoubleRange("score", -50.0, -1.0).count() === 0)
  }

  test("mergeConcurrent: bucket-disjoint racing merges BOTH land; " +
      "overlapping buckets abort cleanly") {
    val t = MiniLake.bucketed(spark, dir, Seq("key"), numBuckets = 2)
    // keys partitioned by the table's own bucket function, so the
    // disjointness below is by construction, not luck
    val buckets = spark.range(1, 41).select(col("id"),
        pmod(xxhash64(concat_ws("", col("id").cast("string"))),
          lit(2)).as("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b0 = buckets.collect { case (k, 0L) => k }.toSeq.sorted
    val b1 = buckets.collect { case (k, 1L) => k }.toSeq.sorted
    t.create(kv(b0.head -> "x", b1.head -> "y"))

    // DISJOINT: while this merge (bucket 0: delete b0.head, insert
    // b0(1)) sits between its data write and its publish, a winner
    // merge lands entirely in bucket 1 — both must commit
    t.beforeNextPublish = Some(() => {
      val w = MiniLake(spark, dir)
      val r = w.mergeConcurrent(
        inserts = kv(b1(1) -> "n1"), deletes = kv(b1.head -> "y"),
        pks = Seq("key"))
      assert(r === (1L, 1L))
    })
    val (ins, del) = t.mergeConcurrent(
      inserts = kv(b0(1) -> "n0"), deletes = kv(b0.head -> "x"),
      pks = Seq("key"))
    assert((ins, del) === (1L, 1L))
    assert(MiniLake(spark, dir).snapshot().orderBy("key")
      .as[(Long, String)].collect().toSeq ===
      Seq(b0(1) -> "n0", b1(1) -> "n1").sortBy(_._1))

    // OVERLAP: a winner touching bucket 0 while our merge also reads/
    // writes bucket 0 — the loser must detect the logical conflict and
    // abort (never last-writer-win a stale rewrite)
    t.beforeNextPublish = Some(() =>
      MiniLake(spark, dir).mergeConcurrent(
        inserts = kv(b0(3) -> "theirs"),
        deletes = MiniLake.emptyDf(spark, t.schema), pks = Seq("key")))
    val err = intercept[java.util.ConcurrentModificationException] {
      t.mergeConcurrent(
        inserts = kv(b0(2) -> "mine"), deletes = kv(b0(1) -> "n0"),
        pks = Seq("key"))
    }
    assert(err.getMessage.contains("conflicts"))
    // the winner's commit survives; the loser left only vacuum debris
    val snap = MiniLake(spark, dir).snapshot()
      .as[(Long, String)].collect().toMap
    assert(snap(b0(3)) === "theirs")
    assert(snap(b0(1)) === "n0") // loser's delete did NOT land
    assert(!snap.contains(b0(2)))

    // SCHEMA CHANGE: a widening append between read and publish
    // invalidates the rewrite's pinned schema — abort
    t.beforeNextPublish = Some(() =>
      MiniLake(spark, dir).append(
        kv(b1(2) -> "w").withColumn("extra", lit(1L)),
        mergeSchema = true))
    intercept[java.util.ConcurrentModificationException] {
      t.mergeConcurrent(
        inserts = kv(b0(4) -> "v"), deletes = MiniLake.emptyDf(spark, t.schema),
        pks = Seq("key"))
    }
  }

  test("mergeConcurrent fuzz: racing bucket-disjoint merges all land " +
      "through the publish-retry path") {
    val n = 8
    val t = MiniLake.bucketed(spark, dir, Seq("key"), numBuckets = n)
    // one key per bucket, derived from the table's own bucket function
    val perBucket = spark.range(1, 200).select(col("id"),
        pmod(xxhash64(concat_ws("", col("id").cast("string"))),
          lit(n.toLong)).as("b"))
      .collect().groupBy(_.getLong(1)).map { case (b, rs) =>
        b -> rs.head.getLong(0)
      }
    assert(perBucket.size === n)
    t.create(kv(0L -> "seed"))
    val keys = perBucket.values.toSeq.sorted
    val threads = keys.map { k =>
      new Thread(() => {
        val w = MiniLake(spark, dir)
        w.mergeConcurrent(kv(k -> s"v$k"),
          MiniLake.emptyDf(spark, w.schema), Seq("key"))
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    val snap = MiniLake(spark, dir).snapshot().as[(Long, String)]
      .collect().toMap
    keys.foreach(k => assert(snap.get(k) === Some(s"v$k"), s"key $k lost"))
    assert(MiniLake(spark, dir).latestVersion === keys.size.toLong)

    // every racing verb: per bucket, a merge (delete that bucket's key,
    // insert a fresh one), a blind append of a fresh key, or a DV
    // delete of that bucket's key. Each call either returns or throws
    // ConcurrentModificationException; exactly the returned calls land.
    val fresh = spark.range(200, 400).select(col("id"),
        pmod(xxhash64(concat_ws("", col("id").cast("string"))),
          lit(n.toLong)).as("b"))
      .collect().groupBy(_.getLong(1)).map { case (b, rs) =>
        b -> rs.head.getLong(0)
      }
    val calls: Seq[(String, Long, Long)] = perBucket.toSeq.sortBy(_._1)
      .map { case (b, k) => (Seq("merge", "append", "dv")(b.toInt % 3),
        k, fresh(b)) }
    val outcomes = new java.util.concurrent.ConcurrentHashMap[Int,
      Either[Throwable, Unit]]()
    val racers = calls.zipWithIndex.map { case ((verb, k, f), i) =>
      new Thread(() => {
        val w = MiniLake(spark, dir)
        val r = scala.util.Try[Unit](verb match {
          case "merge" => w.mergeConcurrent(kv(f -> s"v$f"), kv(k -> ""),
            Seq("key"))
          case "append" => w.appendConcurrent(kv(f -> s"v$f"))
          case "dv" => assert(w.deleteVectored(col("key") === k) === 1L)
        })
        outcomes.put(i, r.toEither)
      })
    }
    racers.foreach(_.start()); racers.foreach(_.join())
    val results = calls.indices.map(outcomes.get)
    results.collect { case Left(e) => e }.foreach { e =>
      assert(e.isInstanceOf[java.util.ConcurrentModificationException], e)
    }
    val landed = calls.zip(results).collect { case (c, Right(_)) => c }
    assert(landed.nonEmpty)
    val expected = landed.foldLeft(snap) { case (m, (verb, k, f)) =>
      verb match {
        case "merge" => m - k + (f -> s"v$f")
        case "append" => m + (f -> s"v$f")
        case _ => m - k
      }
    }
    val after = MiniLake(spark, dir)
    assert(after.latestVersion === keys.size.toLong + landed.size)
    val rows = after.snapshot().as[(Long, String)].collect()
    assert(rows.length === expected.size)
    assert(rows.toMap === expected)
  }

  test("generated columns: computed when absent, validated when " +
      "supplied, guarded against drop/rename") {
    val t = MiniLake.generated(spark, dir,
      generatedCols = Seq("value_len" -> "length(value)"))
    // create computes the absent column
    t.create(kv(1L -> "abc", 2L -> "de"))
    assert(t.snapshot().columns.toSeq === Seq("key", "value", "value_len"))
    assert(t.snapshot().orderBy("key")
      .select("value_len").as[Int].collect().toSeq === Seq(3, 2))
    // append without the column computes it; with a CORRECT value
    // passes; with a WRONG value rejects (implicit CHECK)
    t.append(kv(3L -> "wxyz"))
    t.append(Seq((4L, "pq", 2)).toDF("key", "value", "value_len"))
    val err = intercept[IllegalArgumentException] {
      t.append(Seq((5L, "pq", 99)).toDF("key", "value", "value_len"))
    }
    assert(err.getMessage.contains("generated col value_len"))
    assert(t.snapshot().count() === 4)
    // merge inserts compute it too
    t.merge(inserts = kv(6L -> "hello"),
      deletes = MiniLake.emptyDf(spark, kv().schema), pks = Seq("key"))
    assert(t.snapshot().filter($"key" === 6L)
      .select("value_len").as[Int].head() === 5)
    // lifecycle guards
    intercept[IllegalArgumentException] { t.dropColumn("value_len") }
    intercept[IllegalArgumentException] {
      t.renameColumn("value_len", "vl")
    }
    // reopen recovers the generation rule from the log
    val fresh = MiniLake(spark, dir)
    fresh.append(kv(7L -> "abcdef"))
    assert(fresh.snapshot().filter($"key" === 7L)
      .select("value_len").as[Int].head() === 6)
  }

  test("appendConcurrent aborts when a schema-changing winner lands " +
      "during the data write (no version collision needed)") {
    val t = MiniLake(spark, dir)
    t.create(kv(1L -> "a"))
    // the rename lands in the window between this writer's data write
    // and its FIRST publish attempt — it takes the next version, so
    // the publish would NOT collide; only the loop-top schema re-check
    // can catch it
    t.beforeNextPublish = Some(() =>
      MiniLake(spark, dir).renameColumn("value", "val2"))
    val err = intercept[IllegalArgumentException] {
      t.appendConcurrent(kv(2L -> "b"))
    }
    assert(err.getMessage.contains("schema mismatch"))
    // the rename survived: no stale-schema entry reverted it
    val fresh = MiniLake(spark, dir)
    assert(fresh.schema.fieldNames.toSeq === Seq("key", "val2"))
    assert(fresh.latestVersion === 1L)
  }

  test("a single-shot verb that loses a race raises " +
      "ConcurrentModificationException naming the winner") {
    val t = MiniLake(spark, dir)
    t.create(kv(1L -> "a"))
    t.beforeNextPublish = Some(() =>
      MiniLake(spark, dir).append(kv(2L -> "b")))
    val err = intercept[java.util.ConcurrentModificationException] {
      t.update(col("key") === 1L, Map("value" -> lit("A")))
    }
    assert(err.getMessage.contains("concurrent append at version 1"))
    // the winner stands; the loser's rewrite did not land
    val fresh = MiniLake(spark, dir)
    assert(fresh.latestVersion === 1L)
    assert(fresh.snapshot().as[(Long, String)].collect().toMap ===
      Map(1L -> "a", 2L -> "b"))
  }

  test("appendIfAbsent: a racing replay of the same txn is a no-op, " +
      "not an error") {
    val t = MiniLake(spark, dir)
    t.create(kv(1L -> "a"))
    val batch = kv(2L -> "b")
    // the rival replay lands inside this writer's publish, after it
    // claimed version 1 and before its hard link: the link collides
    val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
    MiniLake.clockForTests = Some(() => {
      if (fired.compareAndSet(false, true))
        assert(MiniLake(spark, dir).appendIfAbsent(batch, "sink", 7L))
      System.currentTimeMillis()
    })
    try assert(!t.appendIfAbsent(batch, "sink", 7L))
    finally MiniLake.clockForTests = None
    val fresh = MiniLake(spark, dir)
    assert(fresh.latestVersion === 1L)
    assert(fresh.lastTxnVersion("sink") === 7L)
    assert(fresh.snapshot().count() === 2L)
  }

  test("schema check: nested fields may be stricter than the table, " +
      "never looser, and must match in name, type and order") {
    import org.apache.spark.sql.types._
    def pair(a: String, b: String, t: DataType, nullable: Boolean) =
      StructType(Seq(StructField(a, t, nullable), StructField(b, t, nullable)))
    val loose = ArrayType(pair("_1", "_2", IntegerType, true), true)
    val strict = ArrayType(pair("_1", "_2", IntegerType, false), false)
    assert(MiniLake.writableAs(strict, loose))
    assert(!MiniLake.writableAs(loose, strict))
    assert(!MiniLake.writableAs(ArrayType(pair("_2", "_1", IntegerType, true)),
      loose))
    assert(!MiniLake.writableAs(ArrayType(pair("_1", "_2", LongType, true)),
      loose))
    assert(MiniLake.writableAs(MapType(StringType, strict, false),
      MapType(StringType, loose, true)))
    assert(!MiniLake.writableAs(MapType(StringType, loose, true),
      MapType(StringType, loose, false)))
    // end to end: a table recorded with non-nullable nested fields
    // rejects a batch whose nested fields are nullable
    val t = MiniLake(spark, dir)
    t.create(Seq((1L, Seq((1, 2)))).toDF("key", "xs"))
    val err = intercept[IllegalArgumentException] {
      t.append(Seq((2L, Seq((3, 4)))).toDF("key", "xs")
        .withColumn("xs", col("xs").cast(loose)))
    }
    assert(err.getMessage.contains("schema mismatch"))
    t.append(Seq((3L, Seq((5, 6)))).toDF("key", "xs"))
    assert(t.snapshot().count() === 2L)
  }

  test("constraint violation attributes every violated name in one pass") {
    val t = MiniLake(spark, dir)
    t.create(kv(1L -> "a"))
    t.addCheckConstraint("key_pos", "key > 0")
    t.addCheckConstraint("val_nonempty", "length(value) > 0")
    val err = intercept[IllegalArgumentException] {
      t.append(kv(-5L -> ""))
    }
    assert(err.getMessage.contains("key_pos"))
    assert(err.getMessage.contains("val_nonempty"))
    // a batch violating only one constraint names only that one
    val err2 = intercept[IllegalArgumentException] { t.append(kv(-6L -> "ok")) }
    assert(err2.getMessage.contains("key_pos"))
    assert(!err2.getMessage.contains("val_nonempty"))
  }
}
