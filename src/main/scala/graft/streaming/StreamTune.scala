// Copyright (c) 2026 graft contributors
// SPDX-License-Identifier: Apache-2.0

package graft.streaming

import org.apache.spark.sql.SparkSession

/** Shared knob for the foreachBatch/CDF streaming gates: their
  * micro-batches are metadata-sized (a day chunk, a commit's delta
  * rows), so per-batch exchanges and state stores are sized to key
  * cardinality rather than the batch session default — the standard
  * `spark.sql.shuffle.partitions` sizing any real streaming deployment
  * applies per query. The previous value is restored after the run, so
  * batch gates in the same session are untouched. Results are
  * partition-count independent (every gate's output is ordered or
  * aggregated); the DuckDB oracle gate pins that.
  */
object StreamTune {
  /** Per-query micro-batch shuffle sizing, derived from the session's
    * parallelism: floored at 4 so tiny local sessions still overlap
    * fetch and compute, and never raised above the session's own
    * setting.
    */
  def clampedShuffle[T](s: SparkSession)(f: => T): T = {
    val cap = math.max(4, s.sparkContext.defaultParallelism / 8)
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions",
      math.min(prev.toInt, cap).toString)
    try f finally s.conf.set("spark.sql.shuffle.partitions", prev)
  }
}
