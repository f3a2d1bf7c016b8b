// Copyright (c) 2026 graft contributors
// SPDX-License-Identifier: Apache-2.0

package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** Engine-layer counters for the jobs that timed operations start.
  * The operation tags its jobs through a local property; stages and
  * tasks inherit the tag from their job, so the counts stay right
  * although listener events arrive late on their own thread.
  */
final class EngineListener extends SparkListener {
  private val taggedStages = mutable.Set.empty[Int]
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskMs = 0L
  var taskCpuNs = 0L
  var shuffleBytes = 0L
  var scanBytes = 0L
  /** (launch, finish) epoch ms of every tagged task. */
  val taskSpans = mutable.ArrayBuffer.empty[(Long, Long)]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tag = Option(e.properties).flatMap(p => Option(p.getProperty(EngineListener.TagKey)))
    if (tag.isDefined) { jobs += 1; taggedStages ++= e.stageIds }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    if (taggedStages(e.stageInfo.stageId)) stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (taggedStages(e.stageId)) {
      tasks += 1
      taskSpans += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
      Option(e.taskMetrics).foreach { m =>
        taskMs += m.executorRunTime
        taskCpuNs += m.executorCpuTime
        shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
        scanBytes += m.inputMetrics.bytesRead
      }
    }
  }

  /** Per-layer engine metrics; `ops` are the timed operations' wall
    * intervals in epoch ms, used for the time no task was running.
    */
  def metrics(ops: Seq[(Long, Long)]): Seq[(String, Double)] = synchronized {
    val busy = EngineListener.union(taskSpans.toSeq)
    val noTaskMs = ops.map { case (s, e) =>
      (e - s) - busy.map { case (a, b) => math.max(0L, math.min(b, e) - math.max(a, s)) }.sum
    }.sum
    Seq("engine.jobs" -> jobs.toDouble, "engine.stages" -> stages.toDouble,
      "engine.tasks" -> tasks.toDouble, "engine.task_s" -> taskMs / 1e3,
      "engine.task_cpu_s" -> taskCpuNs / 1e9, "engine.no_task_s" -> noTaskMs / 1e3,
      "engine.shuffle_mb" -> shuffleBytes / 1e6, "engine.scan_mb" -> scanBytes / 1e6)
  }
}

object EngineListener {
  val TagKey = "perfbench.op"

  /** Merge overlapping intervals. */
  def union(spans: Seq[(Long, Long)]): Seq[(Long, Long)] =
    spans.sortBy(_._1).foldLeft(List.empty[(Long, Long)]) {
      case ((a, b) :: rest, (s, e)) if s <= b => (a, math.max(b, e)) :: rest
      case (acc, iv) => iv :: acc
    }.reverse
}
