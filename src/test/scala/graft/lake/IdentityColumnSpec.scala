// Copyright (c) 2026 graft contributors
// SPDX-License-Identifier: Apache-2.0

package graft.lake

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterEach
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** GENERATED ALWAYS AS IDENTITY: assignment order, the never-reuse
  * contract across DELETE, cold-reopen high-water recovery, the
  * ALWAYS refusal of caller-supplied values, the merge/concurrent
  * refusals, and clone metadata propagation.
  */
class IdentityColumnSpec extends AnyFunSuite with BeforeAndAfterEach {
  private val spark = SparkTestSession.spark
  import spark.implicits._

  private var dir: String = _
  override def beforeEach(): Unit =
    dir = Files.createTempDirectory("idlake").toString + "/t"
  override def afterEach(): Unit =
    MiniLake.deleteRecursively(dir)

  private def kv(rows: (Long, String)*) =
    rows.toDF("key", "value")

  private def ids(t: MiniLake): Map[Long, Long] =
    t.snapshot().select("key", "row_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("create assigns start, start+step, ... in batch sort order") {
    val t = MiniLake.identity(spark, dir, "row_id", start = 7L, step = 3L)
    t.create(kv(30L -> "c", 10L -> "a", 20L -> "b").orderBy("key"))
    assert(ids(t) === Map(10L -> 7L, 20L -> 10L, 30L -> 13L))
    // the identity column is part of the table schema
    assert(t.schema.fieldNames.contains("row_id"))
  }

  test("ids continue across appends and are never reused after DELETE") {
    val t = MiniLake.identity(spark, dir, "row_id")
    t.create(kv(1L -> "a", 2L -> "b").orderBy("key"))   // ids 1, 2
    t.append(kv(3L -> "c").orderBy("key"))              // id 3
    assert(t.delete(col("key") >= 2L) === 2L)           // burns 2, 3
    t.append(kv(4L -> "d").orderBy("key"))              // id 4, NOT 2
    assert(ids(t) === Map(1L -> 1L, 4L -> 4L))
  }

  test("a cold reopen recovers the high water from the log") {
    val t = MiniLake.identity(spark, dir, "row_id")
    t.create(kv(1L -> "a", 2L -> "b").orderBy("key"))
    t.delete(col("key") === 2L) // latest entry carries NO high water
    val fresh = MiniLake(spark, dir) // plain open: spec from the log
    fresh.append(kv(9L -> "z").orderBy("key"))
    assert(ids(fresh) === Map(1L -> 1L, 9L -> 3L))
  }

  test("overwrite keeps counting upward (replaced ids stay burned)") {
    val t = MiniLake.identity(spark, dir, "row_id")
    t.create(kv(1L -> "a", 2L -> "b").orderBy("key"))   // ids 1, 2
    t.overwrite(kv(5L -> "e").orderBy("key"))           // id 3
    assert(ids(t) === Map(5L -> 3L))
  }

  test("ALWAYS: caller-supplied identity values are rejected") {
    val t = MiniLake.identity(spark, dir, "row_id")
    val ex = intercept[IllegalArgumentException] {
      t.create(Seq((1L, "a", 99L)).toDF("key", "value", "row_id"))
    }
    assert(ex.getMessage.contains("cannot be user-supplied"))
  }

  test("appendIfAbsent: ids ride the txn entry atomically; a replayed " +
      "foreachBatch ingest skips the data AND the ids (no burn, no dup)") {
    val t = MiniLake.identity(spark, dir, "row_id")
    t.create(kv(0L -> "seed").orderBy("key"))                 // id 1
    // a foreachBatch-style ingest: batches 1..3, batch 2 replayed
    // twice (crash-between-write-and-bookkeeping shape)
    assert(t.appendIfAbsent(kv(1L -> "b1").orderBy("key"), "app", 1L))
    assert(t.appendIfAbsent(kv(2L -> "b2a", 3L -> "b2b").orderBy("key"),
      "app", 2L))
    assert(!t.appendIfAbsent(kv(2L -> "b2a", 3L -> "b2b").orderBy("key"),
      "app", 2L)) // replay: skipped
    assert(t.appendIfAbsent(kv(4L -> "b3").orderBy("key"), "app", 3L))
    // no duplicate, no reuse, and NO id skipped by the replay:
    // coverage is exactly 1..5
    val assigned = t.snapshot().select("row_id").as[Long].collect()
    assert(assigned.sorted.toSeq === (1L to 5L))
    assert(ids(t)(4L) === 5L)
  }

  test("mergeUpdate: matched rows KEEP their ids; inserts generate " +
      "from the high water; updates consume nothing") {
    val t = MiniLake.identity(spark, dir, "row_id")
    t.create(kv(1L -> "a", 2L -> "b", 3L -> "c").orderBy("key")) // 1..3
    val (nUpd, nIns) = t.mergeUpdate(
      kv(2L -> "B", 3L -> "C", 4L -> "d", 5L -> "e").orderBy("key"),
      Seq("key"))
    assert((nUpd, nIns) === ((2L, 2L)))
    // updated keys 2,3 keep ids 2,3 bit-for-bit; inserts get 4,5
    assert(ids(t) === Map(1L -> 1L, 2L -> 2L, 3L -> 3L, 4L -> 4L, 5L -> 5L))
    assert(t.snapshot().filter(col("key") === 2L)
      .select("value").as[String].head() === "B")
    // the change feed carries preserved ids on both update images
    val ch = t.readChanges(1, 1)
      .filter(col("key") === 2L)
      .select("row_id", "_change_type").as[(Long, String)].collect().toSet
    assert(ch === Set((2L, "update_preimage"), (2L, "update_postimage")))
    // supplying the id column is refused (ids are immutable)
    val ex = intercept[IllegalArgumentException] {
      t.mergeUpdate(Seq((9L, "z", 99L)).toDF("key", "value", "row_id"),
        Seq("key"))
    }
    assert(ex.getMessage.contains("cannot be user-supplied"))
    // a batch that only updates inserts nothing and burns no id
    assert(t.mergeUpdate(kv(1L -> "A").orderBy("key"), Seq("key")) ===
      ((1L, 0L)))
    assert(ids(t) === Map(1L -> 1L, 2L -> 2L, 3L -> 3L, 4L -> 4L, 5L -> 5L))
  }

  test("replacePartitions keeps counting upward (replaced ids burn)") {
    val pdir = dir + "_part"
    val t = new MiniLake(spark, pdir,
      partitionColsAtCreate = Seq("value"),
      identityColAtCreate = Some(MiniLake.IdentitySpec("row_id", 1L, 1L)))
    try {
      t.create(kv(1L -> "x", 2L -> "x", 3L -> "y").orderBy("key")) // 1..3
      val (nIns, nDel) = t.replacePartitions(_("value") == "x",
        kv(10L -> "x").orderBy("key"))
      assert((nIns, nDel) === ((1L, 2L)))
      // the replacement row continues PAST the burned ids: id 4
      assert(ids(t) === Map(3L -> 3L, 10L -> 4L))
      t.append(kv(11L -> "z").orderBy("key"))
      assert(ids(t)(11L) === 5L)
    } finally MiniLake.deleteRecursively(pdir)
  }

  test("mergeConcurrent reserves id ranges: 4 racing bucket-disjoint " +
      "writers, contiguous coverage, no duplicate or reused id") {
    val bdir = dir + "_bkt"
    val t = MiniLake.bucketedIdentity(spark, bdir, Seq("key"), 8, "row_id")
    try {
      t.create(kv(0L -> "seed").orderBy("key"))               // id 1
      // split keys by their BUCKET so the racing merges' footprints
      // are provably disjoint (no conflict → no retry → no burned
      // reservation → coverage stays exactly contiguous)
      val buckets = spark.range(1, 101)
        .select(col("id"),
          pmod(xxhash64(concat_ws("", col("id").cast("string"))),
            lit(8)).as("b"))
        .collect().map(r => r.getLong(0) -> (r.getLong(1) % 4).toInt)
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      import scala.concurrent.ExecutionContext.Implicits.global
      val writers = (0 until 4).map { w =>
        Future {
          val keys = buckets.collect { case (k, b) if b == w => k }
          MiniLake(spark, bdir).mergeConcurrent(
            inserts = kv(keys.map(k => k -> s"w$w-$k"): _*).orderBy("key"),
            deletes = MiniLake.emptyDf(spark, kv().schema),
            pks = Seq("key"))
        }
      }
      Await.result(Future.sequence(writers), Duration.Inf)
      val assigned = t.snapshot().select("row_id").as[Long].collect()
      assert(assigned.length === 101)
      assert(assigned.sorted.toSeq === (1L to 101L))
      // the high water continues past all reservations
      t.append(kv(999L -> "tail").orderBy("key"))
      assert(ids(t)(999L) === 102L)
    } finally MiniLake.deleteRecursively(bdir)
  }

  test("BY DEFAULT accepts explicit ids, advances the high water past " +
      "max(supplied) on the sequence grid; omitted batches generate") {
    val t = MiniLake.identityByDefault(spark, dir, "row_id",
      start = 1L, step = 1L)
    // backfill with explicit ids (the migration shape)
    t.create(Seq((1L, "a", 100L), (2L, "b", 300L))
      .toDF("key", "value", "row_id").orderBy("key"))
    // a generated batch resumes PAST the backfill: 301
    t.append(kv(3L -> "c").orderBy("key"))
    assert(ids(t) === Map(1L -> 100L, 2L -> 300L, 3L -> 301L))
    // explicit ids below the mark are accepted and do NOT regress it
    t.append(Seq((4L, "d", 150L)).toDF("key", "value", "row_id")
      .orderBy("key"))
    t.append(kv(5L -> "e").orderBy("key"))
    assert(ids(t)(4L) === 150L)
    assert(ids(t)(5L) === 302L)
    // NULL explicit ids are refused
    val ex = intercept[IllegalArgumentException] {
      t.append(Seq((6L, "f", null.asInstanceOf[java.lang.Long]))
        .toDF("key", "value", "row_id"))
    }
    assert(ex.getMessage.contains("cannot be NULL"))
    // a cold reopen recovers the BY DEFAULT flag from the log (an
    // explicit batch still accepted, not rejected as ALWAYS would)
    val fresh = MiniLake(spark, dir)
    fresh.append(Seq((7L, "g", 500L)).toDF("key", "value", "row_id")
      .orderBy("key"))
    fresh.append(kv(8L -> "h").orderBy("key"))
    assert(ids(fresh)(8L) === 501L)
  }

  test("syncIdentity re-seats the mark from the data, monotone up " +
      "only (a deleted max never lowers it)") {
    val t = MiniLake.identityByDefault(spark, dir, "row_id",
      start = 10L, step = 5L)
    t.create(Seq((1L, "a", 42L)).toDF("key", "value", "row_id")
      .orderBy("key"))
    // sync aligns to the grid {10 + 5k}: smallest >= 42 is 45
    assert(t.syncIdentity() === 45L)
    t.append(kv(2L -> "b").orderBy("key")) // generated: 50
    assert(ids(t)(2L) === 50L)
    // delete the max; sync must NOT lower the mark (never-reuse)
    t.delete(col("key") === 2L)
    assert(t.syncIdentity() === 50L)
    t.append(kv(3L -> "c").orderBy("key")) // 55, not 50 again
    assert(ids(t)(3L) === 55L)
    // ALWAYS tables can sync too (no-op unless data outran the log)
    val adir = dir + "_always"
    try {
      val a = MiniLake.identity(spark, adir, "row_id")
      a.create(kv(1L -> "a").orderBy("key"))
      assert(a.syncIdentity() === 1L)
    } finally MiniLake.deleteRecursively(adir)
  }

  test("UPDATE cannot set the identity column; appendConcurrent " +
      "accepts BY DEFAULT explicit batches without regressing a " +
      "racing generator's mark") {
    val t = MiniLake.identityByDefault(spark, dir, "row_id")
    t.create(kv(1L -> "a").orderBy("key")) // generated id 1
    val ex = intercept[IllegalArgumentException] {
      t.update(col("key") === 1L, Map("row_id" -> lit(99L)))
    }
    assert(ex.getMessage.contains("cannot be updated"))
    // explicit concurrent append: mark advances past the supplied max
    t.appendConcurrent(Seq((2L, "b", 40L)).toDF("key", "value", "row_id")
      .orderBy("key"))
    // a generated append resumes past 40
    t.append(kv(3L -> "c").orderBy("key"))
    assert(ids(t) === Map(1L -> 1L, 2L -> 40L, 3L -> 41L))
  }

  test("merge assigns ids only to rows that actually INSERT, " +
      "continuing from the high water; delete preimages keep ids") {
    val t = MiniLake.identity(spark, dir, "row_id")
    t.create(kv(1L -> "a", 2L -> "b", 3L -> "c").orderBy("key")) // 1..3
    // key 2 re-inserted (idempotent no-op: consumes NO id), key 4 new
    val (nIns, nDel) = t.merge(
      inserts = kv(2L -> "b2", 4L -> "d").orderBy("key"),
      deletes = kv(3L -> "c"), pks = Seq("key"))
    assert((nIns, nDel) === ((1L, 1L)))
    assert(ids(t) === Map(1L -> 1L, 2L -> 2L, 4L -> 4L))
    // the change feed carries assigned ids on inserts and the doomed
    // row's id on the delete preimage
    val ch = t.readChanges(1, 1).select("key", "row_id", "_change_type")
      .as[(Long, Long, String)].collect().toSet
    assert(ch === Set((4L, 4L, "insert"), (3L, 3L, "delete")))
    // merging ON the identity column is refused (inserts can't name it)
    val ex = intercept[IllegalArgumentException] {
      t.merge(kv(9L -> "z"), kv(), Seq("row_id", "key"))
    }
    assert(ex.getMessage.contains("can never supply it"))
  }

  test("appendConcurrent reserves id ranges: 4 racing writers, no " +
      "duplicate or reused id, contiguous coverage") {
    val t = MiniLake.identity(spark, dir, "row_id")
    t.create(kv(0L -> "seed").orderBy("key"))                  // id 1
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val writers = (1 to 4).map { w =>
      Future {
        val rows = (1 to 25).map(i => (w * 100L + i) -> s"w$w-$i")
        MiniLake(spark, dir).appendConcurrent(kv(rows: _*).orderBy("key"))
      }
    }
    Await.result(Future.sequence(writers), Duration.Inf)
    val assigned = t.snapshot().select("row_id").as[Long].collect()
    assert(assigned.length === 101)
    // every id exactly once, and — because each reservation claims a
    // contiguous block sized to its batch — coverage is exactly 1..101
    assert(assigned.distinct.length === 101)
    assert(assigned.sorted.toSeq === (1L to 101L))
    // the recovered high water continues past all reservations
    t.append(kv(999L -> "tail").orderBy("key"))
    assert(t.snapshot().filter(col("key") === 999L)
      .select("row_id").as[Long].head() === 102L)
  }

  test("shallow clone carries the identity spec AND high water") {
    val t = MiniLake.identity(spark, dir, "row_id")
    t.create(kv(1L -> "a", 2L -> "b").orderBy("key"))   // ids 1, 2
    val cloneDir = Files.createTempDirectory("idclone").toString + "/c"
    try {
      val c = MiniLake.shallowClone(spark, dir, cloneDir)
      c.append(kv(3L -> "c").orderBy("key"))            // id 3, not 1
      assert(ids(c) === Map(1L -> 1L, 2L -> 2L, 3L -> 3L))
      // ALWAYS holds on the clone too
      intercept[IllegalArgumentException] {
        c.append(Seq((4L, "d", 99L)).toDF("key", "value", "row_id"))
      }
    } finally MiniLake.deleteRecursively(cloneDir)
  }
}
