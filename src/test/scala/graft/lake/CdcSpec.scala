// Copyright (c) 2026 graft contributors
// SPDX-License-Identifier: Apache-2.0

package graft.lake

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterEach
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** End-to-end incremental pipeline contracts: bronze → silver via
  * watermarked CDC (test_datalake.py round-trips + test_watermark.py).
  */
class CdcSpec extends AnyFunSuite with BeforeAndAfterEach {
  private val spark = SparkTestSession.spark
  import spark.implicits._

  private var base: String = _
  private def bronze = s"$base/bronze/t"
  private def silver = s"$base/silver/t"
  private def wmPath = s"$base/internal/watermark"

  override def beforeEach(): Unit =
    base = Files.createTempDirectory("cdc").toString
  override def afterEach(): Unit =
    MiniLake.deleteRecursively(base)

  private def kv(rows: (Long, String)*) = rows.toDF("key", "value")
  private val act = "pseudonymisation"

  private def process(): (Long, Long) = {
    val wm = Watermark(spark, wmPath)
    val upd = Cdc.readTableUpdate(spark, bronze, wm, act, "t")
    Cdc.writeTableUpdate(spark, upd, silver, Seq("key"), wm, act, "t")
  }

  test("silver tracks bronze across append, merge-delete and overwrite") {
    MiniLake(spark, bronze).create(kv(1L -> "a", 2L -> "b"))
    process()
    assert(MiniLake(spark, silver).snapshot().orderBy("key")
      .as[(Long, String)].collect().toSeq === Seq(1L -> "a", 2L -> "b"))

    MiniLake(spark, bronze).append(kv(3L -> "c"))
    MiniLake(spark, bronze).merge(kv(), kv(2L -> ""), Seq("key"))
    process()
    assert(MiniLake(spark, silver).snapshot().orderBy("key")
      .as[(Long, String)].collect().toSeq === Seq(1L -> "a", 3L -> "c"))

    MiniLake(spark, bronze).overwrite(kv(9L -> "z"))
    process()
    assert(MiniLake(spark, silver).snapshot().orderBy("key")
      .as[(Long, String)].collect().toSeq === Seq(9L -> "z"))
  }

  test("watermark only advances after a write; empty range is a no-op") {
    MiniLake(spark, bronze).create(kv(1L -> "a"))
    val wm = Watermark(spark, wmPath)
    assert(wm.lowWatermark(act, "t") === 0L)
    process()
    assert(wm.lowWatermark(act, "t") === 1L)

    // nothing new: low(1) > high(0) → empty frame, watermark untouched
    val upd = Cdc.readTableUpdate(spark, bronze, wm, act, "t")
    assert(upd.low === 1L && upd.high === 0L)
    assert(upd.df.isEmpty && upd.df.columns.contains("_change_type"))
    Cdc.writeTableUpdate(spark, upd, silver, Seq("key"), wm, act, "t")
    assert(wm.lowWatermark(act, "t") === 1L)
  }

  test("replaying a processed range is idempotent") {
    MiniLake(spark, bronze).create(kv(1L -> "a", 2L -> "b"))
    process()
    // simulate crash-after-write-before-bump: reprocess the same range
    val wm = Watermark(spark, wmPath)
    val replay = MiniLake(spark, bronze).readChanges(0, 0)
    Cdc.writeTableUpdate(spark, Cdc.TableUpdate(replay, 0, 0), silver,
      Seq("key"), wm, act, "t")
    assert(MiniLake(spark, silver).snapshot().count() === 2L)
  }

  test("a stage runs on every row of the create, then on inserts only") {
    val seen = spark.sparkContext.collectionAccumulator[String]("rows")
    val upper = udf { (v: String) => seen.add(v); v.toUpperCase }
    // `keys` keeps nothing but the key: a delete needs no more
    val stage = Cdc.Stage(rows = _.withColumn("value", upper(col("value"))),
      keys = _.drop("value"))
    def run(): Unit = {
      val wm = Watermark(spark, wmPath)
      val upd = Cdc.readTableUpdate(spark, bronze, wm, act, "t")
      Cdc.writeTableUpdate(spark, upd, silver, Seq("key"), wm, act, "t",
        stage = stage)
    }
    def seenRows() = seen.value.asScala.toSeq.sorted
    MiniLake(spark, bronze).create(kv(1L -> "a", 2L -> "b"))
    run()
    assert(seenRows() === Seq("a", "b"))
    seen.reset()
    MiniLake(spark, bronze).merge(kv(3L -> "c"), kv(1L -> "a"), Seq("key"))
    run()
    assert(seenRows() === Seq("c"))
    assert(MiniLake(spark, silver).snapshot().orderBy("key")
      .as[(Long, String)].collect().toSeq === Seq(2L -> "B", 3L -> "C"))
  }

  test("update changes in the source are rejected downstream") {
    // test_datalake.py:406-448
    MiniLake(spark, bronze).create(kv(1L -> "a"))
    process()
    MiniLake(spark, bronze).update(col("key") === 1L, Map("value" -> lit("a2")))
    val ex = intercept[IllegalArgumentException] { process() }
    assert(ex.getMessage.contains("update"))
  }

  test("a missing source is an empty-range no-op, not a crash") {
    // C4 for the not-yet-created case: pipelines may run before any
    // bronze data lands
    val wm = Watermark(spark, wmPath)
    val upd = Cdc.readTableUpdate(spark, bronze, wm, act, "t")
    assert(upd.high === -1L && upd.df.isEmpty)
    Cdc.writeTableUpdate(spark, upd, silver, Seq("key"), wm, act, "t")
    assert(wm.lowWatermark(act, "t") === 0L) // untouched
    assert(!MiniLake.exists(silver))
  }

  test("watermarks are isolated per activity and per table") {
    MiniLake(spark, bronze).create(kv(1L -> "a"))
    val wm = Watermark(spark, wmPath)
    wm.bump("pseudonymisation", "t", 4L)
    assert(wm.lowWatermark("pseudonymisation", "t") === 5L)
    assert(wm.lowWatermark("feature_extraction", "t") === 0L)
    assert(wm.lowWatermark("pseudonymisation", "other") === 0L)
  }

  test("first batch creates the target without CDC metadata columns") {
    MiniLake(spark, bronze).create(kv(1L -> "a"))
    process()
    val cols = MiniLake(spark, silver).snapshot().columns.toSeq
    assert(cols === Seq("key", "value"))
  }
}
