// Copyright (c) 2026 graft contributors
// SPDX-License-Identifier: Apache-2.0

package graft.lake

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterEach
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** Merge-on-read deletion vectors: `deleteVectored` must match
  * copy-on-write `delete` observably (snapshot, CDF, time travel,
  * versioning) while leaving every data file untouched — the property
  * that makes a 0.1%-row delete on a 100 TB table a megabyte write
  * instead of a full rewrite.
  */
class DeletionVectorSpec extends AnyFunSuite with BeforeAndAfterEach {
  private val spark = SparkTestSession.spark
  import spark.implicits._

  private var dir: String = _
  override def beforeEach(): Unit =
    dir = Files.createTempDirectory("dvlake").toString + "/t"
  override def afterEach(): Unit =
    MiniLake.deleteRecursively(dir)

  private def kv(rows: (Long, String)*) = rows.toDF("key", "value")

  private def dataFiles(base: String): Set[String] = {
    val d = Paths.get(base, "data")
    if (!Files.isDirectory(d)) Set.empty
    else {
      val s = Files.walk(d)
      try s.filter(p => p.toString.endsWith(".parquet"))
        .map[String](_.toString).toArray.map(_.toString).toSet
      finally s.close()
    }
  }

  test("deleteVectored removes rows from reads without touching data files") {
    val t = MiniLake(spark, dir)
    t.create(kv((1L to 10L).map(k => k -> s"v$k"): _*))
    val before = dataFiles(dir)
    val n = t.deleteVectored(col("key") % 2 === 0)
    assert(n === 5)
    assert(dataFiles(dir) === before, "DV delete must not rewrite data files")
    assert(t.snapshot().select("key").as[Long].collect().sorted.toSeq ===
      Seq(1L, 3L, 5L, 7L, 9L))
  }

  test("CDF publishes delete preimages; zero-match still commits") {
    val t = MiniLake(spark, dir)
    t.create(kv(1L -> "a", 2L -> "b", 3L -> "c"))
    val n = t.deleteVectored(col("value") === "b")
    assert(n === 1)
    val ch = t.readChanges(1, 1)
      .select("key", "_change_type").as[(Long, String)].collect().toSet
    assert(ch === Set((2L, "delete")))
    assert(t.deleteVectored(col("value") === "zzz") === 0)
    assert(t.latestVersion === 2L) // zero-match committed a version
    assert(t.snapshot().count() === 2)
  }

  test("NULL predicate keeps the row (Delta DELETE semantics)") {
    val t = MiniLake(spark, dir)
    t.create(Seq((1L, "a"), (2L, null.asInstanceOf[String]), (3L, "c"))
      .toDF("key", "value"))
    assert(t.deleteVectored(col("value") === "a") === 1)
    // row 2's predicate is NULL -> kept
    assert(t.snapshot().select("key").as[Long].collect().sorted.toSeq ===
      Seq(2L, 3L))
  }

  test("stacked DVs compose; already-deleted rows never re-match") {
    val t = MiniLake(spark, dir)
    t.create(kv((1L to 8L).map(k => k -> s"v$k"): _*))
    assert(t.deleteVectored(col("key") <= 4) === 4)
    // keys 1-4 are gone; a predicate covering them must count only 5,6
    assert(t.deleteVectored(col("key") <= 6) === 2)
    assert(t.snapshot().select("key").as[Long].collect().sorted.toSeq ===
      Seq(7L, 8L))
  }

  test("time travel applies exactly the DVs live as of that version") {
    val t = MiniLake(spark, dir)
    t.create(kv(1L -> "a", 2L -> "b", 3L -> "c")) // v0
    t.deleteVectored(col("key") === 1)            // v1
    t.deleteVectored(col("key") === 2)            // v2
    assert(t.snapshot(asOf = 0).count() === 3)
    assert(t.snapshot(asOf = 1).select("key").as[Long].collect().sorted
      .toSeq === Seq(2L, 3L))
    assert(t.snapshot(asOf = 2).select("key").as[Long].collect().toSeq ===
      Seq(3L))
  }

  test("materializeDeletes folds DVs into clean files; reads unchanged") {
    val t = MiniLake(spark, dir)
    t.create(kv((1L to 10L).map(k => k -> s"v$k"): _*))
    t.deleteVectored(col("key") > 7)
    val before = dataFiles(dir)
    t.materializeDeletes()
    assert(dataFiles(dir) !== before, "materialize rewrites the live set")
    assert(t.snapshot().select("key").as[Long].collect().sorted.toSeq ===
      (1L to 7L))
    // a second materialize with no live DVs is a no-op (no new version)
    val v = t.latestVersion
    t.materializeDeletes()
    assert(t.latestVersion === v)
  }

  test("a full rewrite (update) retires DVs and keeps their effect") {
    // two rewrites of the live set: an update, and the merge that folds
    // (its sidecar would bring the live sidecars to MaxLiveDvFiles); the
    // fold also on a partitioned table, whose rewrite keeps its layout
    val vectored = (10L until 10L + MiniLake.MaxLiveDvFiles - 2)
    val plain: String => MiniLake = MiniLake(spark, _)
    val byValue: String => MiniLake =
      MiniLake.partitioned(spark, _, Seq("value"))
    val update: MiniLake => Unit =
      _.update(col("key") === 1, Map("value" -> lit("A")))
    val fold: MiniLake => Unit =
      _.merge(kv(4L -> "d"), kv(1L -> "a"), Seq("key"))
    val rewrites = Seq(
      (plain, update, Seq(1L -> "A", 3L -> "c")),
      (plain, fold, Seq(3L -> "c", 4L -> "d")),
      (byValue, fold, Seq(3L -> "c", 4L -> "d")))
    rewrites.zipWithIndex.foreach { case ((open, rewrite, want), i) =>
      val t = open(s"$dir/$i")
      t.create(kv(Seq(1L -> "a", 2L -> "b", 3L -> "c") ++
        vectored.map(_ -> "z"): _*))
      (2L +: vectored).foreach(k => t.deleteVectored(col("key") === k))
      assert(t.state(t.latestVersion).liveDvFiles.size ===
        MiniLake.MaxLiveDvFiles - 1)
      rewrite(t)
      assert(t.snapshot().orderBy("key").as[(Long, String)].collect()
        .toSeq === want)
      assert(t.state(t.latestVersion).liveDvFiles.isEmpty)
      if (open eq byValue)
        assert(t.state(t.latestVersion).liveFiles
          .forall(_.contains("/_p_value=")))
    }
  }

  test("vectored and copy-on-write deletes agree on the same workload") {
    // one data file, and 4,000 rows over four files whose deletes span
    // every file
    val workloads = Seq(
      (Seq(kv((1L to 50L).map(k => k -> s"v${k % 7}"): _*)),
        col("value").isin("v1", "v3") && col("key") < 40),
      ((0L until 4L).map(f => kv((1L to 1000L).map(k =>
        (f * 1000L + k) -> s"v${k % 7}"): _*)),
        col("value") =!= "v2"))
    workloads.zipWithIndex.foreach { case ((batches, pred), i) =>
      val a = MiniLake(spark, s"${dir}_cow$i")
      val b = MiniLake(spark, s"${dir}_dv$i")
      Seq(a, b).foreach { t =>
        t.create(batches.head)
        batches.tail.foreach(t.append(_))
      }
      val na = a.delete(pred)
      val nb = b.deleteVectored(pred)
      assert(na === nb)
      assert(a.snapshot().orderBy("key").collect().toSeq ===
        b.snapshot().orderBy("key").collect().toSeq)
      MiniLake.deleteRecursively(s"${dir}_cow$i")
      MiniLake.deleteRecursively(s"${dir}_dv$i")
    }
  }

  test("vacuum keeps live DV files; reads survive") {
    val t = MiniLake(spark, dir)
    t.create(kv((1L to 6L).map(k => k -> s"v$k"): _*))
    t.deleteVectored(col("key") === 6)
    t.vacuum(retainMillis = 0)
    assert(t.snapshot().count() === 5)
  }

  test("vacuumDryRun lists without deleting; vacuum then removes " +
      "exactly the listed set") {
    val t = MiniLake.compact(spark, dir)
    t.create(kv(1L -> "a", 2L -> "b"))
    t.overwrite(kv(3L -> "c"))   // strands the overwrite's predecessor
    t.append(kv(4L -> "d"))
    t.delete(col("key") === 3L)  // COW: strands overwrite+append files
    val dry = t.vacuumDryRun(retainMillis = 0)
    assert(dry.nonEmpty)
    assert(dry.forall(p => Files.exists(Paths.get(p))),
      "dry run must not delete")
    val before = t.snapshot().orderBy("key").collect().toSeq
    t.vacuum(retainMillis = 0)
    assert(dry.forall(p => !Files.exists(Paths.get(p))),
      "vacuum must remove every dry-run-listed file")
    assert(t.snapshot().orderBy("key").collect().toSeq === before)
    // idempotent: nothing left to reclaim
    assert(t.vacuumDryRun(retainMillis = 0).isEmpty)
  }

  test("concurrent DV delete: a blind-append winner is safe " +
      "(WriteSerializable) — the delete retries and both land") {
    val t = MiniLake.compact(spark, dir)
    t.create(kv(1L -> "a", 2L -> "b", 3L -> "c"))
    t.beforeNextPublish = Some(() =>
      MiniLake(spark, dir).append(kv(9L -> "z")))
    val n = t.deleteVectored(col("key") === 2L)
    assert(n === 1L)
    assert(t.snapshot().select("key").as[Long].collect().sorted.toSeq
      === Seq(1L, 3L, 9L))
  }

  test("concurrent DV delete: a disjoint-file DV winner is safe — " +
      "stacked sidecars compose") {
    val t = MiniLake.partitioned(spark, dir, Seq("value"))
    t.create(kv(1L -> "a", 2L -> "a", 3L -> "b", 4L -> "b"))
    // the winner vectors a row OUT OF THE OTHER PARTITION's file
    t.beforeNextPublish = Some(() =>
      MiniLake(spark, dir).deleteVectored(
        col("value") === "b" && col("key") === 3L))
    val n = t.deleteVectored(col("value") === "a" && col("key") === 1L)
    assert(n === 1L)
    assert(t.snapshot().select("key").as[Long].collect().sorted.toSeq
      === Seq(2L, 4L))
  }

  test("concurrent DV delete: a winner sharing a target FILE " +
      "conflicts (positions could overlap; CDF would double-publish)") {
    val t = MiniLake.compact(spark, dir) // one file: targets must meet
    t.create(kv(1L -> "a", 2L -> "b", 3L -> "c"))
    t.beforeNextPublish = Some(() =>
      MiniLake(spark, dir).deleteVectored(col("key") === 3L))
    val ex = intercept[java.util.ConcurrentModificationException] {
      t.deleteVectored(col("key") === 2L)
    }
    assert(ex.getMessage.contains("invalidated"))
  }

  test("concurrent DV delete: a rewrite winner conflicts (the " +
      "recorded positions died with the rewritten files)") {
    val t = MiniLake.compact(spark, dir)
    t.create(kv(1L -> "a", 2L -> "b"))
    t.beforeNextPublish = Some(() =>
      MiniLake(spark, dir).update(col("key") === 1L,
        Map("value" -> lit("A"))))
    val ex = intercept[java.util.ConcurrentModificationException] {
      t.deleteVectored(col("key") === 2L)
    }
    assert(ex.getMessage.contains("invalidated"))
  }
}
