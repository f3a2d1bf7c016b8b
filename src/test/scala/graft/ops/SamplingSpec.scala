// Copyright (c) 2026 graft contributors
// SPDX-License-Identifier: Apache-2.0

package graft.ops

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

class SamplingSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  test("hash split is total, disjoint, stable, and ~80/10/10") {
    val docs = graft.Tables.documents(spark, sf)
    val assigned = Sampling.assignSplits(docs)
      .select("doc_id", "split").as[(Long, String)].collect()
    // total + disjoint: every document appears exactly once
    assert(assigned.length === 500)
    assert(assigned.map(_._1).distinct.length === 500)
    assert(assigned.map(_._2).toSet.subsetOf(Set("train", "val", "test")))
    // stable: a second evaluation assigns identically (pure function of
    // doc_id — no RNG, no partition-order sensitivity)
    val again = Sampling.assignSplits(docs)
      .select("doc_id", "split").as[(Long, String)].collect()
    assert(assigned.sortBy(_._1).toSeq === again.sortBy(_._1).toSeq)
    // ratios concentrate near 205/256, 25/256, 26/256 (binomial over
    // 500 draws — ±5σ bounds keep this deterministic-in-practice while
    // catching a broken threshold)
    val n = assigned.groupBy(_._2).view.mapValues(_.length).toMap
    assert(math.abs(n("train") - 500 * 205.0 / 256) < 45)
    assert(math.abs(n("val") - 500 * 25.0 / 256) < 35)
    assert(math.abs(n("test") - 500 * 26.0 / 256) < 35)
  }

  // Arm-equality pin for q216's size-based switch (the GraphSpec
  // device): the single-task greedy kernel and the distributed
  // per-round anti-join loop must agree row for row on the REAL gate
  // derivation — gains, tie-breaks, early stop, cumulative totals.
  test("q216 arm equality: single-task greedy == distributed greedy") {
    def run(): Seq[String] =
      Sampling.q216CoverageSelect(spark, sf).collect().map(_.toString).toSeq
    val local = run()
    val dist = graft.SparkTestSession.distributed(run())
    assert(local.nonEmpty)
    assert(local === dist)
  }
}
