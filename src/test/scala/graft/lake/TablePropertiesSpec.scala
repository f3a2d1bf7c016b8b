// Copyright (c) 2026 graft contributors
// SPDX-License-Identifier: Apache-2.0

package graft.lake

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterEach
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** Table properties (SET/UNSET TBLPROPERTIES) and the
  * `delta.appendOnly` writer feature: set/unset fold like constraints,
  * survive cold reopens, checkpoints, and clones; appendOnly blocks
  * every row-mutating verb while appends, compaction, and vacuum stay
  * legal; properties never leak into the CHECK probe.
  */
class TablePropertiesSpec extends AnyFunSuite with BeforeAndAfterEach {
  private val spark = SparkTestSession.spark
  import spark.implicits._

  private var dir: String = _
  override def beforeEach(): Unit =
    dir = Files.createTempDirectory("tblprops").toString + "/t"
  override def afterEach(): Unit =
    MiniLake.deleteRecursively(dir)

  private def kv(rows: (Long, Long)*) = rows.toDF("k", "cents")

  test("set/unset fold through the log; a cold reopen recovers them; " +
      "properties never evaluate as CHECK predicates") {
    val t = MiniLake(spark, dir)
    t.create(kv(1L -> 10L))
    t.setTableProperty("owner", "curation-team")
    t.setTableProperty("pii", "false")
    assert(MiniLake(spark, dir).tableProperties ===
      Map("owner" -> "curation-team", "pii" -> "false"))
    // an arbitrary value string must never reach expr() — this append
    // would throw if the property leaked into the CHECK probe
    t.append(kv(2L -> 20L))
    assert(t.snapshot().count() === 2)
    t.unsetTableProperty("pii")
    assert(MiniLake(spark, dir).tableProperties ===
      Map("owner" -> "curation-team"))
    // properties and CHECK constraints coexist without collisions
    t.addCheckConstraint("pos", "cents >= 0")
    assert(t.checkConstraints === Map("pos" -> "cents >= 0"))
    assert(t.tableProperties === Map("owner" -> "curation-team"))
  }

  test("appendOnly blocks every row-mutating verb; appends, " +
      "compaction, and vacuum stay legal; unset restores them") {
    val t = MiniLake(spark, dir)
    t.create(kv(1L -> 10L, 2L -> 20L))
    t.setTableProperty(MiniLake.AppendOnlyProp, "true")
    t.append(kv(3L -> 30L))                       // appends legal
    t.appendConcurrent(kv(4L -> 40L))
    assert(t.appendIfAbsent(kv(5L -> 50L), "app", 1L))
    def refused(f: => Any): Boolean =
      try { f; false }
      catch { case e: IllegalArgumentException =>
        e.getMessage.contains("append-only") }
    assert(refused(t.delete(col("k") === 1L)))
    assert(refused(t.deleteVectored(col("k") === 1L)))
    assert(refused(t.mergeConcurrent(kv(9L -> 90L), kv(1L -> 10L), Seq("k"))))
    assert(refused(t.update(col("k") === 1L, Map("cents" -> lit(0L)))))
    assert(refused(t.overwrite(kv(9L -> 90L))))
    assert(refused(t.merge(kv(9L -> 90L), kv(1L -> 10L), Seq("k"))))
    assert(refused(t.mergeUpdate(kv(1L -> 0L), Seq("k"))))
    assert(refused(t.restoreTo(0L)))
    t.compactFiles()                              // logical rows intact
    t.vacuum(retainMillis = 0L)
    assert(t.snapshot().count() === 5)
    t.unsetTableProperty(MiniLake.AppendOnlyProp)
    assert(t.delete(col("k") === 1L) === 1L)      // mutable again
    assert(t.snapshot().count() === 4)
  }

  test("a shallow clone carries CHECK constraints AND properties " +
      "(a clone must refuse what the source refuses)") {
    val t = MiniLake(spark, dir)
    t.create(kv(1L -> 10L))
    t.addCheckConstraint("pos", "cents >= 0")
    t.setTableProperty(MiniLake.AppendOnlyProp, "true")
    val cdir = Files.createTempDirectory("tblpropsclone").toString + "/c"
    try {
      val c = MiniLake.shallowClone(spark, dir, cdir)
      assert(c.checkConstraints === Map("pos" -> "cents >= 0"))
      assert(c.tableProperties ===
        Map(MiniLake.AppendOnlyProp -> "true"))
      intercept[IllegalArgumentException] { c.append(kv(2L -> -5L)) }
      intercept[IllegalArgumentException] {
        c.delete(col("k") === 1L)
      }
      // the clone diverges independently: unset there, source keeps it
      c.unsetTableProperty(MiniLake.AppendOnlyProp)
      assert(c.delete(col("k") === 1L) === 1L)
      assert(MiniLake(spark, dir).tableProperties
        .contains(MiniLake.AppendOnlyProp))
    } finally MiniLake.deleteRecursively(cdir)
  }

  test("RESTORE preserves the identity high water (restored ids are " +
      "never re-assigned)") {
    val t = MiniLake.identity(spark, dir, "row_id")
    t.create(Seq((1L, "a"), (2L, "b")).toDF("k", "v").orderBy("k")) // 1,2
    t.append(Seq((3L, "c")).toDF("k", "v").orderBy("k"))            // 3
    t.restoreTo(0L) // back to {1,2}; id 3 stays burned
    t.append(Seq((4L, "d")).toDF("k", "v").orderBy("k"))
    val ids = t.snapshot().select("k", "row_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ids === Map(1L -> 1L, 2L -> 2L, 4L -> 4L))
  }
}
