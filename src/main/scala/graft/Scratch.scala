// Copyright (c) 2026 graft contributors
// SPDX-License-Identifier: Apache-2.0

package graft

import java.nio.file.{Files, Path}

/** Per-JVM scratch root for queries that materialize intermediate
  * state (lake lifecycles, streaming watch dirs, shard exports). All
  * scratch dirs live under ONE root that a shutdown hook deletes, so
  * repeated invocations — the bench runs every query three times —
  * don't accumulate full copies of exported/laked data on disk.
  *
  * This is RUNTIME infrastructure, not a dev tool: the lake-lifecycle
  * and streaming gate queries (q19, q58, q84, q232, q233, …) allocate
  * their table roots through it, which is why it lives in src/main.
  */
object Scratch {

  /** Scratch prefers RAM-backed storage (`/dev/shm`) when present:
    * these dirs hold ephemeral intermediate state (streaming
    * checkpoints, lake-lifecycle scenarios, shard exports) whose
    * cost should be engine work, not ext4 fsync latency — the same
    * reasoning as pointing Spark local dirs at fast local disks on a
    * real cluster. Override with GRAFT_SCRATCH=<dir>; falls back to
    * java.io.tmpdir when neither is usable.
    */
  private lazy val root: Path = {
    val base = sys.env.get("GRAFT_SCRATCH").map(java.nio.file.Paths.get(_))
      .orElse {
        val shm = java.nio.file.Paths.get("/dev/shm")
        if (Files.isDirectory(shm) && Files.isWritable(shm)) Some(shm)
        else None
      }
    val r = base match {
      case Some(b) => Files.createTempDirectory(b, "graft_scratch")
      case None => Files.createTempDirectory("graft_scratch")
    }
    Runtime.getRuntime.addShutdownHook(new Thread(() => deleteRecursively(r)))
    r
  }

  /** A fresh directory under the session scratch root. */
  def dir(prefix: String): Path = Files.createTempDirectory(root, prefix)

  def deleteRecursively(p: Path): Unit = {
    if (Files.isDirectory(p)) {
      val s = Files.list(p)
      try {
        val it = s.iterator()
        while (it.hasNext) deleteRecursively(it.next())
      } finally s.close()
    }
    try Files.deleteIfExists(p)
    catch { case _: java.io.IOException => () } // best-effort GC
  }
}
