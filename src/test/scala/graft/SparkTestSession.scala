// Copyright (c) 2026 graft contributors
// SPDX-License-Identifier: Apache-2.0

package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (mirrors the reference's
  * session-scoped pytest fixture, conftest.py:38-64), built with the
  * engine's one profile, [[GraftSession]], on four cores.
  */
object SparkTestSession {
  val Cores = 4

  lazy val spark: SparkSession = {
    val s = GraftSession.configure(SparkSession.builder(), Cores)
      .appName("graft-test")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Run `f` with every size-switched gate on its distributed arm. */
  def distributed[T](f: => T): T = {
    spark.conf.set(GraftSession.ForceDistributed, "true")
    try f finally spark.conf.unset(GraftSession.ForceDistributed)
  }
}
