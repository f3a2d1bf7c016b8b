// Copyright (c) 2026 graft contributors
// SPDX-License-Identifier: Apache-2.0

package graft

/** Dev harness: run one named query from SparkEntry.queries, print
  * timing (cold + warm) and optionally the formatted physical plan.
  *
  * Usage: runMain graft.RunOne <queryName> [sfDir] [explain]
  */
object RunOne {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val doExplain = args.contains("explain")
    // ad-hoc conf experiments: SPARK_GRAFT_CONF="k=v;k=v"
    val extra = sys.env.get("SPARK_GRAFT_CONF").toSeq
      .flatMap(_.split(";")).filter(_.nonEmpty)
      .map { kv => val Array(k, v) = kv.split("=", 2); k -> v }
    val spark = GraftSession.start(extra = extra)
    if (args.contains("jobs")) {
      spark.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          private val starts =
            new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
          override def onJobStart(
              e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
            starts.put(e.jobId, (System.nanoTime(),
              e.stageInfos.map(_.name).distinct.mkString(" | ")))
          override def onJobEnd(
              e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
            // a job started before listener registration (or a dropped
            // start event) has no entry — remove() returns null then
            Option(starts.remove(e.jobId)).foreach { case (t0, desc) =>
              println(f"[job] ${e.jobId}%3d ${(System.nanoTime() - t0) / 1e9}%6.2fs  $desc")
            }
        })
    }
    // shuffle/input economy per run — the "minimize shuffles" claim as
    // a measurement: bytes scanned vs bytes exchanged vs rows through
    // the widest stage (SCALE.md's shuffle-economy table comes from
    // this listener)
    val io = new java.util.concurrent.atomic.AtomicLongArray(5)
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          val m = e.taskMetrics
          if (m != null) {
            io.addAndGet(0, m.inputMetrics.bytesRead)
            io.addAndGet(1, m.shuffleReadMetrics.totalBytesRead)
            io.addAndGet(2, m.shuffleWriteMetrics.bytesWritten)
            io.addAndGet(3, m.shuffleReadMetrics.recordsRead)
            // executor task run time: Σ task-time / wall = cores kept
            // busy — the core-scaling witness that survives host-load
            // noise (wall ratios on a shared box do not)
            io.addAndGet(4, m.executorRunTime)
          }
        }
      })
    def drainIo(): (Long, Long, Long, Long, Long) = {
      val r = (io.get(0), io.get(1), io.get(2), io.get(3), io.get(4))
      (0 until 5).foreach(io.set(_, 0L))
      r
    }
    spark.range(1000000L).selectExpr("sum(id)").collect() // warm JVM
    val fn = SparkEntry.queries(name)
    if (doExplain) fn(spark, sfDir).explain("formatted")
    for (i <- 1 to 2) {
      drainIo()
      val t0 = System.nanoTime()
      val n = fn(spark, sfDir).count()
      val dt = (System.nanoTime() - t0) / 1e9
      // listener events drain asynchronously — settle before reading
      // (listenerBus.waitUntilEmpty is private[spark]; a dev harness
      // can afford the fixed settle)
      Thread.sleep(300)
      val (in, sr, sw, srRows, runMs) = drainIo()
      def mb(b: Long): String = f"${b / 1048576.0}%.1f"
      println(f"[runone] $name run$i: $dt%.2fs rows=$n " +
        s"input=${mb(in)}MB shufRead=${mb(sr)}MB " +
        s"shufWrite=${mb(sw)}MB shufRows=$srRows " +
        f"taskSec=${runMs / 1000.0}%.1f busy=${runMs / 1000.0 / dt}%.1f")
    }
    spark.stop()
  }
}
