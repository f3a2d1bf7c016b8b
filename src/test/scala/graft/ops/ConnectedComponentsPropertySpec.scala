// Copyright (c) 2026 graft contributors
// SPDX-License-Identifier: Apache-2.0

package graft.ops

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** Property test for the distributed connected-components labeling:
  * on arbitrary random graphs, the Spark result must equal a
  * driver-side union-find — including pathological shapes the fixed
  * testdata can't produce (long paths, where naive one-hop label
  * propagation needs diameter rounds and the pointer-doubling variant
  * must still converge inside the round cap).
  */
class ConnectedComponentsPropertySpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  import spark.implicits._

  private def unionFind(n: Int, edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    (0L until n).map(i => i -> find(i)).toMap
  }

  private def check(n: Int, edges: Seq[(Long, Long)]): Unit = {
    val nodes = (0L until n).toDF("doc_id")
    val pairs =
      if (edges.isEmpty) Seq.empty[(Long, Long)].toDF("id1", "id2")
      else edges.toDF("id1", "id2")
    // both arms of the size-based switch must match the model: the
    // default conf takes the single-task union-find arm at these
    // sizes; graft.arms.forceDistributed forces the distributed
    // pointer-doubling loop (the 100 TB path)
    val local = Dedup.connectedComponents(nodes, pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dist = graft.SparkTestSession.distributed(
      Dedup.connectedComponents(nodes, pairs).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap)
    val expect = unionFind(n, edges)
    assert(local === expect)
    assert(dist === expect)
  }

  test("random graphs match driver-side union-find") {
    val gen = for {
      n <- Gen.choose(1, 40)
      m <- Gen.choose(0, 60)
      edges <- Gen.listOfN(m, for {
        a <- Gen.choose(0L, n - 1L)
        b <- Gen.choose(0L, n - 1L)
        if a != b
      } yield (math.min(a, b), math.max(a, b)))
    } yield (n, edges)
    // deterministic sampling: Spark-side CC is ~1s per graph, so a
    // fixed set of seeded cases keeps the suite fast and reproducible
    (0 until 8).foreach { i =>
      val (n, edges) = gen.pureApply(Gen.Parameters.default, Seed(77L + i))
      check(n, edges)
    }
  }

  test("a 24-node path collapses to one component (diameter stress)") {
    // worst case for one-hop propagation: label must travel the whole
    // path; pointer doubling gets there in ~log2(24) rounds
    check(24, (0L until 23L).map(i => (i, i + 1)))
  }

  test("two components plus isolates keep separate minima") {
    check(10, Seq((1L, 2L), (2L, 3L), (5L, 6L)))
  }
}
