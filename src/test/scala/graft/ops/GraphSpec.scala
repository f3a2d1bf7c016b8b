// Copyright (c) 2026 graft contributors
// SPDX-License-Identifier: Apache-2.0

package graft.ops

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** Hand-graph contracts for the LPA (q206) and BFS (q207) loops —
  * community structure, tie-breaks, hop distances, and the
  * unreachable bucket, all on graphs small enough to reason about
  * exactly.
  */
class GraphSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  import spark.implicits._

  // two 4-cliques joined by one bridge edge: LPA must settle each
  // clique on its smallest member id, and the bridge must not merge
  // them (each endpoint sees 3 in-clique votes vs 1 across)
  private val twoCliques = (
    (for { a <- 1L to 4L; b <- 1L to 4L if a < b } yield (a, b)) ++
    (for { a <- 11L to 14L; b <- 11L to 14L if a < b } yield (a, b)) ++
    Seq((4L, 11L))
  ).toSeq

  test("q206 loop: two bridged cliques resolve to two communities") {
    val edges = twoCliques.toDF("u", "v")
    val got = Features.labelPropagation(spark, edges, 4).collect()
      .map(r => r.getAs[Long]("node") -> r.getAs[Long]("community"))
      .toMap
    assert((1L to 4L).map(got).toSet === Set(1L))
    assert((11L to 14L).map(got).toSet === Set(11L))
  }

  test("q207 loop: path-graph hops and the unreachable bucket") {
    // a 6-path seeded at one end, plus a disconnected pair: within 4
    // hops node 6 is unreachable, as are both isolates
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L),
      (100L, 101L)).toDF("u", "v")
    val got = Features.bfsHistogram(spark, edges,
        n => n === 1L, n => n == 1L, 4).collect()
      .map(r => r.getAs[Long]("dist") ->
        ((r.getAs[Long]("n"), r.getAs[Long]("min_node"),
          r.getAs[Long]("max_node")))).toMap
    assert(got(0L) === ((1L, 1L, 1L)))
    assert(got(1L) === ((1L, 2L, 2L)))
    assert(got(2L) === ((1L, 3L, 3L)))
    assert(got(3L) === ((1L, 4L, 4L)))
    assert(got(4L) === ((1L, 5L, 5L)))
    assert(got(-1L) === ((3L, 6L, 101L)))
  }

  test("q207 frontier expansion equals full relaxation (sf0.001)") {
    // the implementation only expands the newest frontier; hop counts
    // must still be true shortest distances — cross-check every
    // distance against a driver-side BFS over the same edge list
    val edges = Features.coPurchaseEdges(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val adj = scala.collection.mutable.Map[Long, List[Long]]()
      .withDefaultValue(Nil)
    for ((u, v) <- edges) { adj(u) ::= v; adj(v) ::= u }
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    val dist = scala.collection.mutable.Map[Long, Long]()
    var frontier = nodes.filter(_ % 97 == 0).toList
    frontier.foreach(n => dist(n) = 0L)
    for (r <- 1L to 4L) {
      frontier = frontier.flatMap(adj)
        .filterNot(dist.contains).distinct
      frontier.foreach(n => dist(n) = r)
    }
    val expect = nodes.groupBy(n => dist.getOrElse(n, -1L))
      .map { case (d, ns) => d -> ns.length.toLong }
    val got = Features.q207BfsHops(spark, "/root/testdata/sf0.001")
      .collect()
      .map(r => r.getAs[Long]("dist") -> r.getAs[Long]("n")).toMap
    assert(got === expect)
  }

  // Arm-equality pins for the size-based switch (VERDICT r12 ask #2):
  // each gate runs once on the default conf (single-task arm at these
  // edge counts) and once with graft.arms.forceDistributed (the
  // distributed standing-partition loop); the two must agree row for
  // row. sf0.001 exercises the REAL gate derivations including the
  // mod-97 seed predicates, so the Column/Long seed forms cannot drift.
  private def bothArms(fn: => Array[String]): (Seq[String], Seq[String]) = {
    val local = fn.toSeq
    (local, graft.SparkTestSession.distributed(fn.toSeq))
  }

  test("arm equality: every graph gate local == distributed") {
    val dir = "/root/testdata/sf0.001"
    for (q <- Seq("q206_label_propagation", "q207_bfs_hops",
        "q220_sssp_relax", "q224_modularity", "q230_pagerank_parts",
        "q154_triangles", "q259_clustering_coeff", "q198_coreness",
        "q218_link_prediction", "q219_hits", "q225_assortativity")) {
      val run = () => Features.queries(q)(spark, dir)
        .collect().map(_.toString)
      val (localRows, distRows) = bothArms(run())
      assert(localRows === distRows, s"arm mismatch for $q")
    }
  }

  test("q220 loop: a two-hop path undercuts the direct edge") {
    // 0 -10- 1 -10- 2 with a direct 0-2 edge of length 100: BFS-style
    // frontier logic would settle node 2 at 100 in round 1 and never
    // revisit; relaxation must land 20. Node 4 shows the k-bound: at
    // k=3 its best 3-leg path still rides the expensive edge (120);
    // one more round re-relaxes it down to 40. Seed = node 0.
    val edges = Seq((0L, 1L, 10L), (1L, 2L, 10L), (0L, 2L, 100L),
      (2L, 3L, 10L), (3L, 4L, 10L)).toDF("u", "v", "w")
    def run(k: Int): Map[Long, Long] =
      Features.relaxDistances(spark, edges, n => n === 0L, n => n == 0L, k)
        .collect()
        .map(r => r.getAs[Long]("node") -> r.getAs[Long]("dist_cents"))
        .toMap
    assert(run(3) ===
      Map(0L -> 0L, 1L -> 10L, 2L -> 20L, 3L -> 30L, 4L -> 120L))
    assert(run(4) ===
      Map(0L -> 0L, 1L -> 10L, 2L -> 20L, 3L -> 30L, 4L -> 40L))
  }
}
