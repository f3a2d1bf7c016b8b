// Copyright (c) 2026 graft contributors
// SPDX-License-Identifier: Apache-2.0

package graft

import java.nio.file.Files

import org.apache.spark.sql.streaming.StreamingQueryListener
import org.scalatest.funsuite.AnyFunSuite

/** Empty-input totality: every registered query must run (not
  * necessarily return rows) against a dataset where every table has
  * ZERO rows. This is the new-deployment / fully-filtered-partition
  * shape a production pipeline hits constantly, and the failure modes
  * are all driver-side: scalar fetches reading NULL aggregate rows,
  * sample-fit quantizers with nothing to fit, streams whose sink table
  * never materialized, schema inference over zero part files. Each of
  * those classes had a real instance before this spec existed.
  */
class EmptyInputSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark

  private val sf = "/root/testdata/sf0.001"

  private lazy val emptyDir: String = {
    val dir = Files.createTempDirectory("graft_sf0").toString
    Files.list(java.nio.file.Paths.get(sf)).toArray.map(_.toString)
      .filter(_.endsWith(".parquet"))
      .foreach { f =>
        val name = java.nio.file.Paths.get(f).getFileName.toString
        // limit(0) keeps the exact on-disk schema (incl. ns timestamps)
        spark.read.parquet(f).limit(0)
          .coalesce(1).write.parquet(s"$dir/tmp_$name")
        val part = Files.list(java.nio.file.Paths.get(s"$dir/tmp_$name"))
          .toArray.map(_.toString).filter(_.endsWith(".parquet")).head
        Files.move(java.nio.file.Paths.get(part),
          java.nio.file.Paths.get(s"$dir/$name"))
      }
    dir
  }

  /** Runs `g` on `dir`: its failure, if any, and whether it started a
    * streaming query. `onQueryStarted` fires synchronously inside
    * `start()`, so the flag is set before the run returns.
    */
  private def run(g: Gate, dir: String): (Option[String], Boolean) = {
    val started = new java.util.concurrent.atomic.AtomicBoolean
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent)
          : Unit = started.set(true)
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit = ()
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    val failure =
      try { g.run(spark, dir).count(); None }
      catch {
        case e: Throwable =>
          Some(s"${g.name}: ${e.getClass.getSimpleName}: " +
            Option(e.getMessage).getOrElse("")
              .linesIterator.take(1).mkString.take(140))
      } finally spark.streams.removeListener(listener)
    (failure, started.get)
  }

  private lazy val runs: Seq[(Gate, (Option[String], Boolean))] =
    SparkEntry.gates.values.toSeq.sortBy(_.name)
      .map(g => g -> run(g, emptyDir))

  test("every query is total on zero-row tables") {
    val failures = runs.flatMap(_._2._1)
    assert(failures.isEmpty,
      failures.mkString(s"${failures.size} queries died on empty input:\n  ",
        "\n  ", ""))
  }

  test("a gate starts a streaming query exactly when it is declared streaming") {
    // q200 fits its index before it streams, and zero rows fit none, so
    // a streaming gate that starts nothing here is rerun on real tables
    val wrong = runs.collect {
      case (g, (_, onEmpty)) if (g.kind == Gate.Streaming) !=
          (onEmpty || (g.kind == Gate.Streaming && run(g, sf)._2)) =>
        s"${g.name}: declared ${g.kind.label}, starts " +
          (if (onEmpty) "a" else "no") + " streaming query"
    }
    assert(wrong.isEmpty, wrong.mkString("\n  ", "\n  ", ""))
  }
}
