// Copyright (c) 2026 graft contributors
// SPDX-License-Identifier: Apache-2.0

package graft

import org.apache.spark.sql.SparkSession

/** The one session profile the engine runs under. `Bench`, `Verify`,
  * `RunOne`, `PipelineMain` and the test session all build through
  * [[configure]], so the configuration the bench times is the one the
  * oracle verifies (the reference likewise builds its session in one
  * place, the session-scoped fixture in conftest.py:38-64).
  * `SessionProfileSpec` guards against a second builder regrowing.
  */
object GraftSession {

  /** Every setting of the profile apart from the master, each with the
    * reason it is set.
    */
  def settings(cores: Int): Seq[(String, String)] = Seq(
    // one shuffle partition per core: the gate-scale inputs are small,
    // so more partitions only add scheduling
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.ui.enabled" -> "false",
    // date and timestamp results must not depend on the host's zone
    "spark.sql.session.timeZone" -> "UTC",
    // INT64 micros rather than INT96, so a pyarrow read of written
    // results carries the DuckDB oracle's logical type and timestamp
    // columns stay hash-comparable
    "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS",
    // The generated-class cache defaults to 100 entries; the query
    // suite (the CDC pipelines alone are ~20 codegen units each)
    // churns straight through that, so a query's compiled classes are
    // evicted before its next run. Static conf: builder time only.
    "spark.sql.codegen.cache.maxEntries" -> "4096",
    // AQE coalescing floored at the parallelism (Spark's default):
    // size-based coalescing is blind to EXPANSION stages — q154's
    // wedge join emits ~25× its input, and coalescing its ~20 MB
    // shuffle input to one task serialized the whole expansion
    // (measured 11.3 s vs 3.3 s warm at sf0.1). Tiny queries pay
    // sub-ms extra scheduling per stage.
    "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "true",
    // local mode: every executor is process-local, so waiting for
    // locality only delays task launch
    "spark.locality.wait" -> "0s",
    // This runtime ships no native-hadoop library, so the stock
    // checkpoint managers' per-file permission ops fall back to a
    // fork+exec of `chmod` per state-store delta / offset-log file,
    // every micro-batch (the largest non-compute cost of the streaming
    // gates when profiled). The java.nio manager does the same create /
    // atomic rename protocol with no permission call.
    "spark.sql.streaming.checkpointFileManagerClass" ->
      "graft.streaming.NioCheckpointFileManager",
    // checkpoint durability checksums (a sidecar checksum file per
    // checkpoint file) are off for the same local-disk reasoning;
    // HDFS/object-store deployments re-enable both settings
    "spark.sql.streaming.checkpoint.fileChecksum.enabled" -> "false")

  /** Apply the whole profile for a `local[cores]` session. */
  def configure(b: SparkSession.Builder, cores: Int): SparkSession.Builder =
    settings(cores).foldLeft(b.master(s"local[$cores]")) {
      case (acc, (k, v)) => acc.config(k, v)
    }

  /** A profiled session on `SPARK_GRAFT_CPUS` cores (default 4);
    * `extra` settings are applied last, so they override the profile
    * (RunOne's `SPARK_GRAFT_CONF` experiments).
    */
  def start(extra: Seq[(String, String)] = Nil): SparkSession = {
    val cores = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val b = extra.foldLeft(configure(SparkSession.builder(), cores)) {
      case (acc, (k, v)) => acc.config(k, v)
    }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Setting that sends every size-switched gate down its distributed
    * arm — the one device for arm-equality specs and for measuring the
    * distributed plans at gate scale. Unset or anything but `true`
    * leaves the single-task arms on.
    */
  val ForceDistributed = "graft.arms.forceDistributed"

  /** The single-task arm's ceiling `cap`, or 0 (no single-task arm)
    * under [[ForceDistributed]].
    */
  def localCap(s: SparkSession, cap: Long): Long =
    if (s.conf.getOption(ForceDistributed).contains("true")) 0L else cap
}
