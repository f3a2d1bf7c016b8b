// Copyright (c) 2026 graft contributors
// SPDX-License-Identifier: Apache-2.0

package graft.lake

import java.nio.file.Files

import org.apache.spark.sql.functions.{col, lit}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** Model-based property test: a random sequence of lake operations
  * (append / merge / update / overwrite / delete-via-DV / materialize
  * / shallow-clone / vacuum / compact) runs against both the real
  * MiniLake and a trivial driver-side model (a Map plus a change
  * journal). After every step the lake's snapshot must equal the
  * model's map and the cumulative change feed must equal the journal —
  * catching cross-operation interactions (compaction after merge,
  * vacuum after overwrite, merge over outstanding deletion vectors,
  * reads of a shallow clone while its source keeps mutating) that
  * single-operation specs can't.
  */
class MiniLakeModelSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  import spark.implicits._

  sealed trait Op
  private case class Append(rows: Map[Long, String]) extends Op
  private case class Merge(ins: Map[Long, String], del: Set[Long]) extends Op
  private case class Update(key: Long, value: String) extends Op
  private case class Overwrite(rows: Map[Long, String]) extends Op
  private case class MergeUpd(rows: Map[Long, String]) extends Op
  private case class DeleteVec(keys: Set[Long]) extends Op
  private case class DeleteCow(keys: Set[Long]) extends Op
  private case object Materialize extends Op
  private case object Clone extends Op
  private case object Vacuum extends Op
  private case object Compact extends Op
  // crash injections — the on-disk debris a writer leaves when it dies
  // between its attempt-dir writes and the atomic log publish; the
  // model is NOT updated, so any leak of the poison rows (or any
  // application of the stranded DV) fails the snapshot/journal asserts
  private case object CrashTorn extends Op
  private case object CrashDv extends Op
  // partition-spec evolution: layout-only, model unchanged — every
  // read after it crosses mixed `_p_` eras
  private case object Evolve extends Op

  private val kvGen: Gen[(Long, String)] = for {
    k <- Gen.choose(0L, 20L)
    v <- Gen.alphaLowerStr.map(_.take(4))
  } yield (k, v)

  private val opGen: Gen[Op] = Gen.frequency(
    4 -> Gen.mapOf(kvGen).map(m => Append(m)),
    4 -> (for {
      ins <- Gen.mapOf(kvGen)
      del <- Gen.listOf(Gen.choose(0L, 20L)).map(_.toSet)
    } yield Merge(ins, del)),
    2 -> kvGen.map { case (k, v) => Update(k, v) },
    2 -> Gen.mapOf(kvGen).map(m => MergeUpd(m)),
    2 -> Gen.listOf(Gen.choose(0L, 20L)).map(ks => DeleteVec(ks.toSet)),
    1 -> Gen.listOf(Gen.choose(0L, 20L)).map(ks => DeleteCow(ks.toSet)),
    1 -> Gen.mapOf(kvGen).map(m => Overwrite(m)),
    1 -> Gen.const(Materialize),
    1 -> Gen.const(Clone),
    1 -> Gen.const(Vacuum),
    1 -> Gen.const(Compact),
    2 -> Gen.const(CrashTorn),
    2 -> Gen.const(CrashDv),
    1 -> Gen.const(Evolve))

  // merges only, each naming keys to delete: every merge that matches
  // one adds a deletion-vector sidecar, until one folds them all
  private val mergeOnlyGen: Gen[Op] = for {
    ins <- Gen.mapOf(kvGen)
    del <- Gen.nonEmptyListOf(Gen.choose(0L, 20L)).map(_.toSet)
  } yield Merge(ins, del)

  private def df(rows: Map[Long, String]) =
    rows.toSeq.toDF("key", "value")

  // CI runs a fixed small seed set; GRAFT_FUZZ_RUNS widens the sweep
  // for one-off robustness passes (e.g. GRAFT_FUZZ_RUNS=20 sbt
  // "testOnly graft.lake.MiniLakeModelSpec")
  private val fuzzRuns = sys.env.get("GRAFT_FUZZ_RUNS").map(_.toInt)

  test("random op sequences: snapshot == model, change feed == journal") {
    (0 until fuzzRuns.getOrElse(4)).foreach { run =>
      runFuzz(run, seedBase = 1234L,
        mkTable = d => MiniLake(spark, d), toDf = df)
    }
    // a merge-only run long enough to cross the live-sidecar bound
    val folds = runFuzz(0, seedBase = 4321L,
      mkTable = d => MiniLake(spark, d), toDf = df,
      ops = Gen.listOfN(2 * MiniLake.MaxLiveDvFiles + 4, mergeOnlyGen))
    assert(folds > 0, "the merge-only run never folded its sidecars")
  }

  test("random op sequences on a value-partitioned table") {
    // same model, but the table carries a derived partition column
    // (part = key % 3) — merge rewrites, DV deletes, compaction
    // (incl. the partition-scoped form), vacuum, and the change feed
    // all run through the `_p_part=` layout, and pruned reads must
    // agree with the filtered model after every sequence
    (0 until fuzzRuns.getOrElse(2)).foreach { run =>
      val pdf = (rows: Map[Long, String]) =>
        df(rows).withColumn("part",
          org.apache.spark.sql.functions.expr("cast(key % 3 as string)"))
      runFuzz(run, seedBase = 9876L,
        mkTable = d => MiniLake.partitioned(spark, d, Seq("part")),
        toDf = pdf, partitioned = true,
        finalCheck = (t, model) => (0L until 3L).foreach { p =>
          val pruned = t.snapshotWhere(m => m("part") == p.toString)
            .select("key", "value").as[(Long, String)].collect().toMap
          assert(pruned === model.filter(_._1 % 3 == p),
            s"pruned partition $p diverged")
        })
    }
  }

  test("random op sequences on a COLUMN-MAPPED table (rename chain + " +
      "default tombstone laid down before the sequence; clones become " +
      "clones of mapped sources)") {
    // the logical schema stays (key, value) so the model is unchanged,
    // but every read now resolves era-0 files through a two-hop rename
    // chain, the cumulative-default map carries a dropped column's
    // tombstone, and every mid-sequence shallow clone exercises the
    // carried cloneRenames/cloneDropped/addDefaults state under the
    // full op mix — the round-11 clone-of-mapped-source machinery
    // fuzzed rather than single-op-tested
    (0 until fuzzRuns.getOrElse(2)).foreach { run =>
      runFuzz(run, seedBase = 5555L,
        mkTable = d => MiniLake(spark, d), toDf = df,
        afterCreate = t => {
          t.renameColumn("value", "tmp_v")
          t.renameColumn("tmp_v", "value")
          t.addColumn("tag", "STRING", "'x'")
          t.dropColumn("tag")
        })
    }
  }

  test("clone survives source overwrite + vacuum under retention") {
    // the clone-source-vacuum race: a shallow clone references the
    // SOURCE's data files by path; when the source later rewrites
    // (its old files leave the live set) and vacuums, only the
    // retention window keeps the clone readable — Delta's documented
    // semantics, reproduced here deterministically
    val dir = Files.createTempDirectory("graft_race").toString + "/t"
    val t = MiniLake(spark, dir)
    t.create(df(Map(1L -> "a", 2L -> "b")))
    t.append(df(Map(3L -> "c")))
    // compact first so the clone references a REWRITE-produced file:
    // insert-commit files double as the change feed and are vacuum-
    // protected forever, so only rewritten files can actually age out
    t.compactFiles()
    val cdir = dir + "_clone"
    val c = MiniLake.shallowClone(spark, dir, cdir)
    val frozen = Map(1L -> "a", 2L -> "b", 3L -> "c")
    // source rewrites everything: clone-referenced files go dead
    t.overwrite(df(Map(9L -> "z")))
    // default 7-day retention protects the just-retired files
    t.vacuum()
    assert(c.snapshot().select("key", "value")
      .as[(Long, String)].collect().toMap === frozen,
      "retention-windowed vacuum must keep clone-referenced files")
    assert(t.snapshot().select("key", "value")
      .as[(Long, String)].collect().toMap === Map(9L -> "z"))
    // zero retention really does age them out — the hazard is real,
    // which is exactly why the fuzz stops asserting clones post-vacuum
    t.vacuum(retainMillis = 0L)
    intercept[Exception] { c.snapshot().count() }
    MiniLake.deleteRecursively(cdir)
    MiniLake.deleteRecursively(dir)
  }

  private def runFuzz(run: Int, seedBase: Long,
      mkTable: String => MiniLake,
      toDf: Map[Long, String] => org.apache.spark.sql.DataFrame,
      partitioned: Boolean = false,
      finalCheck: (MiniLake, Map[Long, String]) => Unit = (_, _) => (),
      afterCreate: MiniLake => Unit = _ => (),
      ops: Gen[List[Op]] = Gen.listOfN(14, opGen)): Int = {
    def df(rows: Map[Long, String]): org.apache.spark.sql.DataFrame =
      toDf(rows)
    locally {
      val steps = ops.pureApply(Gen.Parameters.default, Seed(seedBase + run))
      val dir = Files.createTempDirectory("graft_model").toString + "/t"
      val t = mkTable(dir)
      var model = Map(1L -> "seed")
      t.create(df(model))
      afterCreate(t)
      // journal of (change_type, key) multiset across all versions
      val journal = scala.collection.mutable.ArrayBuffer[(String, Long)]()
      journal ++= model.keys.map(("insert", _))
      // shallow clones made mid-sequence: (clone, model frozen at the
      // clone point, dir). Asserted after every subsequent op — until
      // a source vacuum, which may legitimately delete files a clone
      // references once the source rewrote them (see the race test)
      var clones = List.empty[(MiniLake, Map[Long, String], String)]
      val cloneDirs = scala.collection.mutable.ArrayBuffer[String]()
      // attempt dirs stranded by injected crashes: must never influence
      // a read, and must be reclaimed by the final zero-retention vacuum
      val debris = scala.collection.mutable.ArrayBuffer[String]()
      // the model as of every version time travel can still read (the
      // sequence's own, up to the last zero-retention vacuum), and the
      // merges that folded their live sidecars
      val modelAt = scala.collection.mutable.Map(t.latestVersion -> model)
      var recorded = t.latestVersion
      var liveDvs = 0
      var folds = 0

      steps.zipWithIndex.foreach { case (op, i) =>
        op match {
          case Append(rows) =>
            // appended PKs may collide with live ones — MiniLake append
            // is file-level (no PK semantics), so restrict to new keys
            // to keep the model a Map (merge covers the collision path)
            val fresh = rows.filter(kv => !model.contains(kv._1))
            if (fresh.nonEmpty) {
              // exercise both append paths (plain and optimistic-
              // concurrency) — they must be observationally identical
              if (fresh.size % 2 == 0) t.appendConcurrent(df(fresh))
              else t.append(df(fresh))
              model ++= fresh
              journal ++= fresh.keys.map(("insert", _))
            }
          case Merge(ins, del) =>
            if (ins.nonEmpty || del.nonEmpty) {
              val delRows = model.view.filterKeys(del).toMap
              t.merge(df(ins), df(delRows.map { case (k, v) => k -> v }),
                Seq("key"))
              // reference semantics: deletes apply first, then inserts
              // of keys absent from the kept set
              model --= delRows.keys
              val inserted = ins.filter(kv => !model.contains(kv._1))
              model ++= inserted
              journal ++= delRows.keys.map(("delete", _))
              journal ++= inserted.keys.map(("insert", _))
            }
          case Update(k, v) =>
            if (model.contains(k)) {
              t.update(org.apache.spark.sql.functions.col("key") === k,
                Map("value" -> org.apache.spark.sql.functions.lit(v)))
              journal += (("update_preimage", k))
              journal += (("update_postimage", k))
              model += (k -> v)
            }
          case Overwrite(rows) =>
            if (rows.nonEmpty) {
              t.overwrite(df(rows))
              journal ++= model.keys.map(("delete", _))
              journal ++= rows.keys.map(("insert", _))
              model = rows
            }
          case MergeUpd(rows) =>
            if (rows.nonEmpty) {
              val (nUpd, nIns) = t.mergeUpdate(df(rows), Seq("key"))
              val matched = rows.filter(kv => model.contains(kv._1))
              val inserted = rows.filter(kv => !model.contains(kv._1))
              assert((nUpd, nIns) ===
                ((matched.size.toLong, inserted.size.toLong)),
                s"mergeUpdate counts diverged after $op (run $run)")
              journal ++= matched.keys.map(("update_preimage", _))
              journal ++= matched.keys.map(("update_postimage", _))
              journal ++= inserted.keys.map(("insert", _))
              model ++= rows
            }
          case DeleteVec(keys) =>
            val doomed = model.keySet.intersect(keys)
            val n = t.deleteVectored(
              org.apache.spark.sql.functions.col("key")
                .isin(keys.toSeq: _*))
            assert(n === doomed.size.toLong,
              s"DV delete count diverged after $op (run $run)")
            model --= doomed
            journal ++= doomed.map(("delete", _))
          case DeleteCow(keys) =>
            // copy-on-write DELETE: same logical semantics as the DV
            // path, different physical mechanism — both fuzz together
            val doomed = model.keySet.intersect(keys)
            val n = t.delete(
              org.apache.spark.sql.functions.col("key")
                .isin(keys.toSeq: _*))
            assert(n === doomed.size.toLong,
              s"CoW delete count diverged after $op (run $run)")
            model --= doomed
            journal ++= doomed.map(("delete", _))
          case Materialize =>
            // folds DVs into clean files; zero logical changes
            t.materializeDeletes()
          case Clone =>
            val cdir = dir + s"_clone$i"
            val c = MiniLake.shallowClone(spark, dir, cdir)
            cloneDirs += cdir
            clones ::= ((c, model, cdir))
          case Vacuum =>
            t.vacuum(retainMillis = 0L)
            // zero-retention vacuum may delete files a clone still
            // references (exactly Delta's hazard) — stop asserting them
            clones = Nil
          case CrashTorn =>
            // writer died after writing its data+changes attempt dirs
            // for the NEXT version, before the log publish
            val v = t.latestVersion + 1
            val dDir = s"$dir/data/v=$v/w-crash$i"
            val cDir = s"$dir/changes/v=$v/w-crash$i"
            toDf(Map((100L + i) -> "poison")).coalesce(1).write.parquet(dDir)
            toDf(Map((100L + i) -> "poison"))
              .withColumn(MiniLake.ChangeType,
                org.apache.spark.sql.functions.lit("insert"))
              .coalesce(1).write.parquet(cDir)
            debris += dDir += cDir
          case CrashDv =>
            // writer died between the DV sidecar write and the log
            // entry; the sidecar targets physical rows of a LIVE file
            t.liveFiles(t.latestVersion).headOption.foreach { f =>
              val v = t.latestVersion + 1
              val dvDir = s"$dir/dv/v=$v/w-crash$i"
              Seq((f, 0L), (f, 1L))
                .toDF(MiniLake.DvFileCol, MiniLake.DvPosCol)
                .coalesce(1).write.parquet(dvDir)
              debris += dvDir
            }
          case Evolve =>
            // alternate specs on partitioned runs (part ↔ part+value);
            // on unpartitioned runs the table becomes partitioned
            // mid-sequence (ADD PARTITION FIELD on a plain table) —
            // either way the model is untouched and every later op
            // plus the final change-feed replay crosses mixed eras.
            // The duplicated `_p_` dirs are pruning hints only (the
            // real column stays in the leaf files), so even
            // empty-string values (Hive default-partition mangling in
            // the dir name) cannot corrupt a read.
            val spec =
              if (!partitioned) Seq("value")
              else if (t.latestVersion % 2 == 0) Seq("part")
              else Seq("part", "value")
            t.evolvePartitioning(spec)
          case Compact =>
            if (partitioned && model.nonEmpty && i % 2 == 0) {
              // partition-scoped OPTIMIZE of one modeled partition;
              // must leave every partition's rows intact
              val p = (i % 3).toString
              t.compactPartitions(m => m("part") == p)
            } else t.compactFiles()
        }
        if (op == Vacuum) modelAt.clear()
        (recorded + 1 to t.latestVersion).foreach(modelAt(_) = model)
        modelAt(t.latestVersion) = model
        recorded = t.latestVersion
        val asOf = modelAt.keys.toSeq.sorted.map(v =>
          t.snapshot(v).select(col("key"), col("value"), lit(v).as("v")))
          .reduce(_ unionByName _).as[(Long, String, Long)].collect()
          .groupBy(_._3).view.mapValues(_.map(r => r._1 -> r._2).toMap)
        modelAt.foreach { case (v, m) =>
          assert(asOf.getOrElse(v, Map.empty) === m,
            s"snapshot($v) diverged after $op (run $run)")
        }
        val dvs = t.state(t.latestVersion).liveDvFiles.size
        assert(dvs <= MiniLake.MaxLiveDvFiles,
          s"$dvs live sidecars after $op (run $run)")
        if (op.isInstanceOf[Merge] && dvs < liveDvs) folds += 1
        liveDvs = dvs
        clones.foreach { case (c, frozen, cd) =>
          val cs = c.snapshot().select("key", "value")
            .as[(Long, String)].collect().toMap
          assert(cs === frozen,
            s"clone $cd diverged after source op $op (run $run)")
        }
      }

      val changes = t.readChanges(0, t.latestVersion)
        .select("_change_type", "key").as[(String, Long)].collect()
      assert(changes.sorted.toSeq === journal.sorted.toSeq,
        s"change feed diverged (run $run)")
      finalCheck(t, model)
      // crash debris: invisible throughout (asserted per-op above),
      // and reclaimed once a zero-retention vacuum runs
      if (debris.nonEmpty) {
        t.vacuum(retainMillis = 0L)
        val leftover = debris.filter { d =>
          val p = java.nio.file.Paths.get(d)
          java.nio.file.Files.isDirectory(p) && {
            val st = java.nio.file.Files.walk(p)
            try st.anyMatch(q => q.toString.endsWith(".parquet"))
            finally st.close()
          }
        }
        assert(leftover.isEmpty,
          s"crash debris survived vacuum (run $run): $leftover")
        val snap = t.snapshot().select("key", "value")
          .as[(Long, String)].collect().toMap
        assert(snap === model, s"post-debris-vacuum snapshot (run $run)")
      }
      cloneDirs.foreach(MiniLake.deleteRecursively)
      MiniLake.deleteRecursively(dir)
      folds
    }
  }
}
