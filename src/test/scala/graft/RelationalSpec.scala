// Copyright (c) 2026 graft contributors
// SPDX-License-Identifier: Apache-2.0

package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Relational

class RelationalSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  test("every query runs") {
    Relational.queries.foreach { case (name, fn) =>
      val df = fn(spark, sf)
      assert(df.columns.nonEmpty, name)
      df.count() // executes the plan; correctness is the DuckDB gate
    }
  }

  test("q1 pricing summary: 6 flag/status groups, totals add up") {
    val rows = Relational.q1PricingSummary(spark, sf).collect()
    assert(rows.length === 6)
    val total = rows.map(_.getAs[Long]("count_order")).sum
    val all = Tables.lineitem(spark, sf)
      .filter("l_shipdate <= timestamp'1998-09-02'").count()
    assert(total === all)
  }

  test("q8 emits at most 3 rows per segment with rn 1..3") {
    val rows = Relational.q8TopOrdersPerSegment(spark, sf).collect()
    val bySeg = rows.groupBy(_.getAs[String]("c_mktsegment"))
    assert(bySeg.values.forall(_.length <= 3))
    assert(rows.forall(r => (1L to 3L).contains(r.getAs[Long]("rn"))))
  }

  test("q10 sessions: gaps within a session never exceed 30 min") {
    val sess = Relational.q10Sessions(spark, sf).collect()
    assert(sess.nonEmpty)
    // session bounds are ordered and non-overlapping per user
    sess.groupBy(_.getAs[Long]("user_id")).foreach { case (_, ss) =>
      val sorted = ss.sortBy(_.getAs[Long]("session_seq"))
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(a.getAs[Long]("end_ms") < b.getAs[Long]("start_ms"))
        case _ =>
      }
    }
  }
}
