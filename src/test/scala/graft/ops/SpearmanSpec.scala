// Copyright (c) 2026 graft contributors
// SPDX-License-Identifier: Apache-2.0

package graft.ops

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** Arm-equality pin for q238's size-based switch (the SamplingSpec
  * device): the single-task merge kernel (per-pack x-sorted packs,
  * k-way merge, checked-int64 moment fold) and the distributed
  * histogram/sharded-prefix pipeline must agree bit for bit — same
  * n, same 6-dp rho — on the real gate feed and on constructed tie
  * patterns, nulls, and empty input.
  */
class SpearmanSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq

  private def bothArms(df: => org.apache.spark.sql.DataFrame)
      : (Seq[String], Seq[String]) = {
    val local = rows(df)
    (local, graft.SparkTestSession.distributed(rows(df)))
  }

  test("q238 arm equality on the real gate feed") {
    val (local, dist) = bothArms(Features.q238Spearman(spark, sf))
    assert(local.nonEmpty)
    assert(local === dist)
  }

  test("arm equality on tie-heavy multi-partition input") {
    // heavy ties on both sides, negatives, and runs that span packs:
    // 7 partitions so the kernel merges many sorted slices
    val data = (0 until 4001).map { i =>
      (((i % 7) - 3).toDouble, ((i % 13) * 1.5 - 6).toDouble)
    }
    val df = spark.createDataFrame(data).toDF("q", "x").repartition(7)
    val (local, dist) = bothArms(Features.spearmanOver(spark, df))
    assert(local.nonEmpty)
    assert(local === dist)
    // anti-monotone sanity on a clean feed: rho(-x) == -rho(x)
    val neg = spark.createDataFrame(
      (1 to 100).map(i => (i.toDouble, -i.toDouble))).toDF("q", "x")
    assert(rows(Features.spearmanOver(spark, neg)).head
      === "[100,-1.0]")
  }

  test("null rows drop identically in both arms") {
    val df = spark.createDataFrame(Seq(
      (Some(1.0), Some(2.0)), (None, Some(3.0)), (Some(4.0), None),
      (Some(2.0), Some(2.0)), (Some(3.0), Some(9.0)))).toDF("q", "x")
    val (local, dist) = bothArms(Features.spearmanOver(spark, df))
    assert(local === dist)
    // n counts only rows where both sides are known
    assert(local.head.startsWith("[3,"))
  }

  test("empty input yields the empty-aggregate row in both arms") {
    val df = spark.createDataFrame(Seq.empty[(Double, Double)])
      .toDF("q", "x")
    val (local, dist) = bothArms(Features.spearmanOver(spark, df))
    assert(local === Seq("[null,null]"))
    assert(local === dist)
  }

  test("constant side yields identical degenerate rho in both arms") {
    val df = spark.createDataFrame(
      (1 to 50).map(i => (i.toDouble, 7.5))).toDF("q", "x")
    val (local, dist) = bothArms(Features.spearmanOver(spark, df))
    assert(local === dist)
  }
}
