// Copyright (c) 2026 graft contributors
// SPDX-License-Identifier: Apache-2.0

package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables._

/** Feature-engineering / reconciliation operators ([EXT], SURVEY.md
  * §2.10): equi-depth discretization, chi-square association, and an
  * order-independent table checksum — the pieces a training pipeline
  * uses to turn raw columns into model features and to prove two
  * copies of a 100 TB table are identical without moving either.
  */
object Features extends graft.Gates {

  /** Equi-depth (quantile) binning of `events.value` into 10 deciles —
    * the feature-discretization complement to q129's equi-WIDTH
    * histogram: bucket boundaries adapt to the distribution so each
    * bin holds ~10% of the mass, which is what tree/embedding feature
    * pipelines feed on skewed columns.
    *
    * Scale shape: the 9 decile edges are ONE 1-row aggregate, broadcast
    * back over the table (BroadcastNestedLoopJoin of a single row —
    * constant cost); bin assignment is a codegen'd array `filter` per
    * row (9 comparisons, no shuffle); the per-bin report is a
    * map-side-combinable 10-group aggregate. Two scans total, nothing
    * driver-side. At 100 TB the exact `percentile` edge pass swaps for
    * `approx_percentile` (q120 proves the GK error bound is stable);
    * the gate uses the exact form so the oracle can state the same
    * edges.
    *
    * Engine parity: values are 6-dp-decimal quantized before the
    * percentile so both engines interpolate over the identical
    * multiset; edges are rounded back to the 6-dp grid before the
    * strict `v > edge` comparisons, so bin membership is decided on
    * exact decimal values, never a sub-ulp race.
    */
  def q150EquidepthBins(s: SparkSession, dir: String): DataFrame = {
    val v = round(col("value"), 6).cast("decimal(18,6)").cast("double")
    val taps = (1 to 9).map(_ / 10.0)
    val ev = events(s, dir).select(v.as("v"))
    val edges = ev.agg(
      expr(s"percentile(v, array(${taps.mkString(",")}))").as("raw"))
      .select(transform(col("raw"),
        e => round(e, 6).cast("decimal(18,6)").cast("double")).as("edges"))
    ev.crossJoin(broadcast(edges))
      .select(col("v"),
        size(filter(col("edges"), e => col("v") > e)).as("bin"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"),
        round(min("v"), 6).cast("decimal(18,6)").cast("double").as("lo"),
        round(max("v"), 6).cast("decimal(18,6)").cast("double").as("hi"))
      .orderBy("bin")
  }

  val q150Oracle: String =
    """WITH v AS (SELECT CAST(CAST(round(value, 6) AS DECIMAL(18,6))
      |    AS DOUBLE) AS v FROM events),
      |e AS (SELECT list_transform(
      |    quantile_cont(v, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]),
      |    e -> CAST(CAST(round(e, 6) AS DECIMAL(18,6)) AS DOUBLE))
      |  AS edges FROM v)
      |SELECT len(list_filter(e.edges, x -> v.v > x)) AS bin,
      |  count(*) AS n,
      |  CAST(CAST(round(min(v.v), 6) AS DECIMAL(18,6)) AS DOUBLE) AS lo,
      |  CAST(CAST(round(max(v.v), 6) AS DECIMAL(18,6)) AS DOUBLE) AS hi
      |FROM v, e
      |GROUP BY 1 ORDER BY bin""".stripMargin

  /** Chi-square association between two categorical columns
    * (o_orderpriority × o_orderstatus) — the feature-selection /
    * drift-detection statistic. Unlike mutual information it needs no
    * logarithm, so the whole computation is exact integer counts plus
    * one identical IEEE expression per cell — cross-engine stable (the
    * q134 TVD-over-PSI argument).
    *
    * Scale shape: the contingency table is ONE map-side-combinable
    * aggregate over the scan (cells = |priorities|×|statuses| = 15
    * rows at any table size); row totals, column totals, and N are
    * re-aggregated from the CELLS, not the table — three tiny
    * aggregates over ≤15 rows joined back broadcast. The table is
    * scanned exactly once.
    */
  def q151ChiSquare(s: SparkSession, dir: String): DataFrame = {
    // the 15-row contingency table feeds four consumers (row totals,
    // column totals, N, and the cell join) — cut the plan so the
    // orders scan runs once, not four times
    val cells = orders(s, dir)
      .groupBy("o_orderpriority", "o_orderstatus")
      .agg(count(lit(1)).as("obs"))
      .localCheckpoint()
    val rowTot = cells.groupBy("o_orderpriority")
      .agg(sum("obs").as("row_tot"))
    val colTot = cells.groupBy("o_orderstatus")
      .agg(sum("obs").as("col_tot"))
    val n = cells.agg(sum("obs").as("n_total"))
    cells
      .join(broadcast(rowTot), "o_orderpriority")
      .join(broadcast(colTot), "o_orderstatus")
      .crossJoin(broadcast(n))
      .select(col("o_orderpriority"), col("o_orderstatus"), col("obs"),
        (col("row_tot").cast("double") * col("col_tot") / col("n_total"))
          .as("exp"))
      .select(col("o_orderpriority"), col("o_orderstatus"), col("obs"),
        round(col("exp"), 4).cast("decimal(18,4)").cast("double")
          .as("expected"),
        round((col("obs") - col("exp")) * (col("obs") - col("exp"))
          / col("exp"), 6).cast("decimal(18,6)").cast("double")
          .as("chi2_contrib"))
      .orderBy("o_orderpriority", "o_orderstatus")
  }

  val q151Oracle: String =
    """WITH cells AS (SELECT o_orderpriority, o_orderstatus,
      |  count(*) AS obs FROM orders GROUP BY 1, 2),
      |rt AS (SELECT o_orderpriority, sum(obs) AS row_tot
      |  FROM cells GROUP BY 1),
      |ct AS (SELECT o_orderstatus, sum(obs) AS col_tot
      |  FROM cells GROUP BY 1),
      |n AS (SELECT sum(obs) AS n_total FROM cells),
      |j AS (SELECT cells.o_orderpriority, cells.o_orderstatus, obs,
      |  CAST(row_tot AS DOUBLE) * col_tot / n_total AS exp
      | FROM cells JOIN rt USING (o_orderpriority)
      |   JOIN ct USING (o_orderstatus) CROSS JOIN n)
      |SELECT o_orderpriority, o_orderstatus, obs,
      |  CAST(CAST(round(exp, 4) AS DECIMAL(18,4)) AS DOUBLE) AS expected,
      |  CAST(CAST(round((obs - exp) * (obs - exp) / exp, 6)
      |    AS DECIMAL(18,6)) AS DOUBLE) AS chi2_contrib
      |FROM j
      |ORDER BY o_orderpriority, o_orderstatus""".stripMargin

  /** Order-independent table checksum — the cross-cluster
    * reconciliation primitive: two sites each digest their copy with
    * one scan and compare two short strings instead of shipping 100 TB.
    * Each row folds to a 40-bit-scale integer fingerprint; the table
    * digest is the plain SUM — commutative and associative, so it is
    * invariant under partitioning, task order, and AQE re-planning,
    * and it map-side-combines to one long per task.
    *
    * The gated fingerprint is digits-of-md5 (both engines render md5
    * identically; hex→int conversion is not portable SQL). The
    * library-grade variant is [[checksum]] below — xxhash64 over all
    * columns, 8× cheaper — which the oracle cannot replicate;
    * FeatureSpec proves its partitioning invariance instead.
    */
  def q152TableChecksum(s: SparkSession, dir: String): DataFrame = {
    def digest(df: DataFrame, name: String, key: org.apache.spark.sql.Column)
        : DataFrame = {
      val fp = substring(rpad(regexp_replace(md5(key), "[a-f]", ""),
        12, "0"), 1, 12).cast("long")
      df.select(fp.as("fp"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("fp").cast("decimal(20,0)")).cast("string").as("checksum"))
        .select(lit(name).as("table_name"), col("n_rows"), col("checksum"))
    }
    digest(orders(s, dir), "orders",
        concat_ws("|", col("o_orderkey"), col("o_orderstatus")))
      .union(digest(customer(s, dir), "customer",
        concat_ws("|", col("c_custkey"), col("c_mktsegment"))))
      .union(digest(lineitem(s, dir), "lineitem",
        concat_ws("|", col("l_orderkey"), col("l_linenumber"))))
      .orderBy("table_name")
  }

  val q152Oracle: String = {
    def digest(name: String, table: String, key: String): String =
      s"""SELECT '$name' AS table_name, count(*) AS n_rows,
         | CAST(CAST(sum(CAST(substr(rpad(regexp_replace(
         |   md5($key), '[a-f]', '', 'g'), 12, '0'), 1, 12) AS BIGINT))
         |   AS DECIMAL(38,0)) AS VARCHAR) AS checksum
         |FROM $table""".stripMargin
    Seq(
      digest("orders", "orders", "o_orderkey || '|' || o_orderstatus"),
      digest("customer", "customer", "c_custkey || '|' || c_mktsegment"),
      digest("lineitem", "lineitem", "l_orderkey || '|' || l_linenumber"))
      .mkString("", "\nUNION ALL\n", "\nORDER BY table_name")
  }

  /** Library-grade checksum: xxhash64 across ALL columns, summed in
    * decimal — one scan, map-side combined, partitioning-invariant
    * (FeatureSpec). Two clusters comparing a 100 TB table exchange
    * this one row.
    */
  def checksum(df: DataFrame): DataFrame =
    df.select(xxhash64(df.columns.map(col).toIndexedSeq: _*).as("fp"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("fp").cast("decimal(38,0)")).as("checksum"))

  /** Triangle counting over the co-purchase graph (parts appearing in
    * the same order) via degree-ordered edge orientation — the
    * Suri/Vassilvitskii "MR triangle" shape that makes the count
    * feasible at scale: every edge is directed from its lower-(degree,
    * id) endpoint to its higher one, so each triangle is counted
    * exactly once, at its lowest-ranked vertex, and the wedge join
    * fans out by ORIENTED out-degree — O(Σ d_out²), with d_out
    * bounded by √|E| on any graph, instead of the unbounded Σ deg² a
    * naive wedge count pays on hot nodes (a part in 1M orders never
    * becomes a 10¹² wedge hub).
    *
    * Edge generation is bounded too: pairs are formed within an order
    * (≤ C(items-per-order, 2) per order — TPC-H orders hold ≤ a few
    * items at any SF), never across orders. All arithmetic is integer
    * counts — bit-exact in any engine.
    */
  /** Shared derivation for the triangle-family queries (q154, q259):
    * distinct co-purchase edges, per-node degrees, and the
    * degree-ordered oriented edge list. Both frames are
    * localCheckpoint-cut: they are referenced several times each by
    * every consumer (wedge sides, closing probe, degree join), and
    * the expensive within-order pair join must run ONCE (the q130
    * shingle-table pattern). Returns (degrees(node, deg),
    * oriented(src, dst, ddst)).
    */
  private def coPurchaseGraph(
      s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val li = lineitem(s, dir)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct()
    val edges = li.as("a")
      .join(li.as("b"), col("a.ok") === col("b.ok") &&
        col("a.pk") < col("b.pk"))
      .select(col("a.pk").as("u"), col("b.pk").as("v"))
      .distinct()
    degreeOriented(edges)
  }

  /** The raw (ok, pk) projection the in-task co-purchase derivations
    * start from (dedupe/thresholding happens inside the kernel).
    */
  private def rawOkPk(s: SparkSession, dir: String): DataFrame =
    lineitem(s, dir)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))

  /** Degree-ordered orientation of an arbitrary undirected edge list
    * `(u, v)` with u < v — factored from [[coPurchaseGraph]] so
    * FeatureSpec can drive [[q259ClusteringCoeff]]'s kernel on
    * hand-computable graphs.
    */
  private[graft] def degreeOriented(
      edges: DataFrame): (DataFrame, DataFrame) = {
    val deg = edges.select(col("u").as("node"))
      .union(edges.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
      .localCheckpoint()
    val du = deg.select(col("node").as("u"), col("deg").as("du"))
    val dv = deg.select(col("node").as("v"), col("deg").as("dv"))
    val lt = col("du") < col("dv") ||
      (col("du") === col("dv") && col("u") < col("v"))
    val oriented = edges.join(du, "u").join(dv, "v")
      .select(
        when(lt, col("u")).otherwise(col("v")).as("src"),
        when(lt, col("v")).otherwise(col("u")).as("dst"),
        when(lt, col("dv")).otherwise(col("du")).as("ddst"))
      .localCheckpoint()
    (deg, oriented)
  }

  /** Closing-probe ceiling of the triangle queries (q154, q259), in
    * edges: at or below it the closing keys BROADCAST (2M packed
    * longs ≈ 16 MB), above it the probe is a shuffle join (pruned by a
    * Bloom filter in q154). Specs pass a lower ceiling to force the
    * shuffle transport on small graphs.
    */
  val TriangleBroadcastEdges = 2_000_000L

  def q154Triangles(s: SparkSession, dir: String,
      broadcastEdges: Long = TriangleBroadcastEdges): DataFrame = {
    // in-task arm (guarded in-kernel; overflow → the distributed
    // pipeline below, the 100 TB path; graft.arms.forceDistributed
    // forces it — GraphSpec pins the arms equal on the real gate)
    if (GraphLocal.maxEdges(s) > 0)
      GraphLocal.trianglesCoPurchase(s, rawOkPk(s, dir)) match {
        case Some(out) => return out
        case None =>
      }
    val (_, oriented) = coPurchaseGraph(s, dir)
    val wedgeLt = col("e1.ddst") < col("e2.ddst") ||
      (col("e1.ddst") === col("e2.ddst") && col("e1.dst") < col("e2.dst"))
    // the closing probe joins wedges (the BIG side — Θ(Σ out-deg²)
    // rows) against edges: pack each (lo, hi) node pair into ONE
    // 8-byte key so the wedge shuffle carries a single long per row
    // instead of two, and the join compares one word (partkeys are
    // < 2^32 by the TPC-H data model, checked nowhere cheaper than
    // the bit budget itself: shiftleft discards nothing below 2^32)
    def packed(a: Column, b: Column): Column =
      shiftleft(a, 32).bitwiseOR(b)
    val wedges = oriented.as("e1")
      .join(oriented.as("e2"),
        col("e1.src") === col("e2.src") && wedgeLt)
      .select(packed(col("e1.dst"), col("e2.dst")).as("bc"))
    val closing = oriented.select(packed(col("src"), col("dst")).as("bc"))
    // Wedges outnumber triangles ~25:1 here (Σ out-deg² vs closures),
    // and every non-closing wedge still pays the closing join. The
    // join strategy is picked by |E|, never letting any driver-side
    // object scale with the data:
    //  - |E| ≤ 2×10⁶ (~16 MB of packed longs): BROADCAST the closing
    //    keys — the wedge stream probes a hash table inside its own
    //    codegen stage and never exchanges at all. sf0.1 (~0.9 M
    //    edges) sits here: the Σ out-deg² wedge rows are born, probed,
    //    and counted in one stage.
    //  - larger: shuffle join, with a byte-capped Bloom prune (16 MB ≈
    //    1.3×10⁷ keys at 1% fp) killing non-closing wedges before the
    //    exchange; past the cap the filter degrades (cap-sized, fpp ≤
    //    25%) and past ~4.7×10⁷ edges (where the capped fpp crosses
    //    25%) it is skipped — the closing equi join is exact without
    //    it, so scale costs the optimization, never the answer or the
    //    driver.
    val nEdges = oriented.count()
    val triangles =
      if (nEdges <= broadcastEdges)
        wedges.join(broadcast(closing), "bc")
      else {
        val closingBloom = graft.functions.BloomExpressions
          .boundedBloomFilter(closing, "bc", nEdges, maxBytes = 16L << 20)
        val pruned = closingBloom.fold(wedges)(b => wedges
          .filter(graft.functions.BloomExpressions.mightContainLong(
            col("bc"), b)))
        pruned.join(closing, "bc")
      }
    triangles.agg(count(lit(1)).as("n_triangles"))
      .crossJoin(oriented.agg(count(lit(1)).as("n_edges")))
      .crossJoin(oriented
        .select(explode(array(col("src"), col("dst"))).as("node"))
        .agg(countDistinct(col("node")).as("n_nodes")))
      .select(col("n_nodes"), col("n_edges"), col("n_triangles"))
  }

  val q154Oracle: String =
    """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
      |  FROM lineitem),
      |edges AS (SELECT DISTINCT a.pk AS u, b.pk AS v
      |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
      |deg AS (SELECT node, count(*) AS deg FROM (
      |   SELECT u AS node FROM edges
      |   UNION ALL SELECT v AS node FROM edges) t GROUP BY node),
      |eo AS (SELECT CASE WHEN lt THEN u ELSE v END AS src,
      |    CASE WHEN lt THEN v ELSE u END AS dst,
      |    CASE WHEN lt THEN dv ELSE du END AS ddst
      |  FROM (SELECT u, v, du.deg AS du, dv.deg AS dv,
      |      (du.deg < dv.deg OR (du.deg = dv.deg AND u < v)) AS lt
      |    FROM edges JOIN deg du ON u = du.node
      |      JOIN deg dv ON v = dv.node) o),
      |w AS (SELECT e1.dst AS b, e2.dst AS c FROM eo e1 JOIN eo e2
      |  ON e1.src = e2.src AND (e1.ddst < e2.ddst OR
      |     (e1.ddst = e2.ddst AND e1.dst < e2.dst))),
      |tri AS (SELECT count(*) AS n_triangles FROM w
      |  JOIN eo e3 ON w.b = e3.src AND w.c = e3.dst)
      |SELECT (SELECT count(*) FROM deg) AS n_nodes,
      |  (SELECT count(*) FROM edges) AS n_edges,
      |  n_triangles
      |FROM tri""".stripMargin

  /** Local clustering coefficient (q259) over the q154 co-purchase
    * graph — the per-NODE refinement of the global triangle count:
    * cc(v) = 2·t(v) / (deg(v)·(deg(v)−1)), the probability two of
    * v's neighbors are themselves connected. Reported as the
    * distribution summary every graph-health readout starts from:
    * node count, triangle count, mean local cc (Watts–Strogatz) and
    * global cc (transitivity, 3·T / wedges) — the two deliberately
    * DIFFERENT statistics people conflate (hub-heavy graphs push them
    * apart).
    *
    * Same scale shape as q154 — degree-ordered orientation bounds the
    * wedge fan-out by Σ d_out² (d_out ≤ √|E|) — with one necessary
    * difference: triangle rows here carry all three node ids for the
    * per-node credit (explode → groupBy), so the wedge rows are three
    * longs + the packed probe key, not the key alone. The closing
    * probe still broadcasts below the q154 edge cap (one codegen
    * stage, no wedge exchange); above it the equi join is exact
    * without any driver-side state (the Bloom prune demonstrated on
    * q154 applies unchanged if needed). All arithmetic is integer
    * counts; per-node cc is one exact-input division rounded to 6 dp
    * and DECIMAL-quantized before the order-independent mean.
    */
  def q259ClusteringCoeff(s: SparkSession, dir: String): DataFrame = {
    if (GraphLocal.maxEdges(s) > 0)
      GraphLocal.clusteringCoPurchase(s, rawOkPk(s, dir)) match {
        case Some(out) => return out
        case None =>
      }
    val (deg, oriented) = coPurchaseGraph(s, dir)
    clusteringSummary(s, deg, oriented)
  }

  /** [[q259ClusteringCoeff]]'s kernel over a pre-derived
    * (degrees, oriented) pair — factored so FeatureSpec can pin the
    * closed-form cc values on a clique-plus-pendant graph.
    */
  private[graft] def clusteringSummary(s: SparkSession, deg: DataFrame,
      oriented: DataFrame,
      broadcastEdges: Long = TriangleBroadcastEdges): DataFrame = {
    def packed(a: Column, b: Column): Column =
      shiftleft(a, 32).bitwiseOR(b)
    val wedgeLt = col("e1.ddst") < col("e2.ddst") ||
      (col("e1.ddst") === col("e2.ddst") && col("e1.dst") < col("e2.dst"))
    val wedges = oriented.as("e1")
      .join(oriented.as("e2"),
        col("e1.src") === col("e2.src") && wedgeLt)
      .select(col("e1.src").as("a"), col("e1.dst").as("b"),
        col("e2.dst").as("c"),
        packed(col("e1.dst"), col("e2.dst")).as("bc"))
    val closing = oriented.select(packed(col("src"), col("dst")).as("bc"))
    val nEdges = oriented.count()
    val tris =
      if (nEdges <= broadcastEdges) wedges.join(broadcast(closing), "bc")
      else wedges.join(closing, "bc")
    val triPerNode = tris
      .select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("tri"))
    val ncc = deg.filter(col("deg") >= 2)
      .join(triPerNode, Seq("node"), "left")
      .select(col("deg"), coalesce(col("tri"), lit(0L)).as("tri"))
      .withColumn("cc", round(col("tri").cast("double") * 2.0 /
        (col("deg") * (col("deg") - 1)).cast("double"), 6))
    ncc.agg(
      count(lit(1)).as("n_nodes"),
      sum(((col("deg") * (col("deg") - 1)) / 2).cast("long"))
        .as("n_wedges"),
      sum(col("tri")).as("tri3"),
      sum(col("cc").cast("decimal(18,6)")).as("cc_sum"))
      .select(col("n_nodes"),
        (col("tri3") / 3).cast("long").as("n_triangles"),
        when(col("n_nodes") > 0,
          round(col("cc_sum").cast("double") /
            col("n_nodes").cast("double"), 6)).as("avg_cc"),
        when(col("n_wedges") > 0,
          round(col("tri3").cast("double") /
            col("n_wedges").cast("double"), 6)).as("global_cc"))
  }

  val q259Oracle: String =
    """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
      |  FROM lineitem),
      |edges AS (SELECT DISTINCT a.pk AS u, b.pk AS v
      |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
      |deg AS (SELECT node, count(*) AS deg FROM (
      |   SELECT u AS node FROM edges
      |   UNION ALL SELECT v AS node FROM edges) t GROUP BY node),
      |eo AS (SELECT CASE WHEN lt THEN u ELSE v END AS src,
      |    CASE WHEN lt THEN v ELSE u END AS dst,
      |    CASE WHEN lt THEN dv ELSE du END AS ddst
      |  FROM (SELECT u, v, du.deg AS du, dv.deg AS dv,
      |      (du.deg < dv.deg OR (du.deg = dv.deg AND u < v)) AS lt
      |    FROM edges JOIN deg du ON u = du.node
      |      JOIN deg dv ON v = dv.node) o),
      |w AS (SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
      |  FROM eo e1 JOIN eo e2
      |  ON e1.src = e2.src AND (e1.ddst < e2.ddst OR
      |     (e1.ddst = e2.ddst AND e1.dst < e2.dst))),
      |t3 AS (SELECT a, b, c FROM w
      |  JOIN eo e3 ON w.b = e3.src AND w.c = e3.dst),
      |tn AS (SELECT node, count(*) AS tri FROM (
      |   SELECT a AS node FROM t3
      |   UNION ALL SELECT b FROM t3
      |   UNION ALL SELECT c FROM t3) x GROUP BY node),
      |ncc AS (SELECT d.deg, COALESCE(tn.tri, 0) AS tri,
      |  round(CAST(COALESCE(tn.tri, 0) AS DOUBLE) * 2.0
      |    / CAST(d.deg * (d.deg - 1) AS DOUBLE), 6) AS cc
      | FROM deg d LEFT JOIN tn ON d.node = tn.node
      | WHERE d.deg >= 2),
      |agg AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes,
      |  CAST(sum((deg * (deg - 1)) // 2) AS BIGINT) AS n_wedges,
      |  CAST(sum(tri) AS BIGINT) AS tri3,
      |  sum(CAST(cc AS DECIMAL(18,6))) AS cc_sum
      | FROM ncc)
      |SELECT n_nodes, tri3 // 3 AS n_triangles,
      |  CASE WHEN n_nodes > 0 THEN
      |    round(CAST(cc_sum AS DOUBLE) / CAST(n_nodes AS DOUBLE), 6)
      |  END AS avg_cc,
      |  CASE WHEN n_wedges > 0 THEN
      |    round(CAST(tri3 AS DOUBLE) / CAST(n_wedges AS DOUBLE), 6)
      |  END AS global_cc
      |FROM agg""".stripMargin

  /** Johnson-Lindenstrauss random projection of the 64-d embeddings to
    * 8 dimensions — the cheap-dimensionality-reduction front of an ANN
    * or clustering pipeline. The projection matrix is an Achlioptas
    * sparse sign matrix derived from md5(i|j) (+1 / −1 / 0 at
    * 3/16 / 3/16 / 10/16), so it is seedless-deterministic and both
    * engines reconstruct the identical matrix from nothing. Embedding
    * components quantize to integer micro-units before the dot
    * product, so the projected values are EXACT integers — no
    * float-sum ordering hazard.
    *
    * Scale shape: the 64×8 matrix is metadata (broadcast); the
    * projection is one scan with a per-row map-side aggregate
    * (posexplode → join g → partial sums); the output is 8 longs per
    * vector. At 100 TB nothing shuffles except the per-vector partial
    * sums keyed on (vec_id, j) — and with [[graft.functions
    * .VectorExpressions]]-style codegen the explode disappears into
    * an in-row loop (left declarative here: the gate proves the
    * semantics, the expression variant is a mechanical swap).
    */
  def q155JlProjection(s: SparkSession, dir: String): DataFrame = {
    val g = s.range(64).select(col("id").cast("int").as("i"))
      .crossJoin(s.range(8).select(col("id").cast("int").as("j")))
      .withColumn("h",
        substring(md5(concat_ws("|", col("i"), col("j"))), 1, 1))
      .withColumn("g",
        when(col("h") <= "2", 1L).when(col("h") <= "5", -1L).otherwise(0L))
      .select("i", "j", "g")
    embeddings(s, dir)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("i", "e")))
      // non-finite or astronomically-scaled components would turn the
      // micro-unit quantization into an ANSI long-cast error; they
      // contribute NULL (skipped by the sum) instead — never binds on
      // the gate corpora (all-finite small floats), mirrored in the
      // oracle
      .withColumn("ed", col("e").cast("double"))
      .withColumn("eq",
        when(!isnan(col("ed")) && abs(col("ed")) <= lit(9e12),
          round(col("ed") * 1e6).cast("long")).otherwise(lit(null)))
      .join(broadcast(g), "i")
      .groupBy("vec_id", "j")
      .agg(sum(col("eq") * col("g")).as("p"))
      .orderBy("vec_id", "j")
  }

  val q155Oracle: String =
    """WITH d AS (SELECT unnest(generate_series(1, 64)) AS i),
      |k AS (SELECT unnest(generate_series(0, 7)) AS j),
      |g AS (SELECT i - 1 AS i0, j,
      |  CASE WHEN h <= '2' THEN 1 WHEN h <= '5' THEN -1 ELSE 0 END AS g
      | FROM (SELECT i, j, substr(md5((i - 1) || '|' || j), 1, 1) AS h
      |   FROM d, k) t),
      |e AS (SELECT vec_id, i - 1 AS i0,
      |  CASE WHEN isnan(CAST(embedding[i] AS DOUBLE))
      |        OR abs(CAST(embedding[i] AS DOUBLE)) > 9e12 THEN NULL
      |   ELSE CAST(round(CAST(embedding[i] AS DOUBLE) * 1e6) AS BIGINT)
      |   END AS eq
      | FROM embeddings, d)
      |SELECT vec_id, j, CAST(sum(eq * g) AS BIGINT) AS p
      |FROM e JOIN g USING (i0)
      |GROUP BY vec_id, j
      |ORDER BY vec_id, j""".stripMargin

  /** Robust (median/IQR) scaling statistics per event type with
    * Tukey-fence outlier counts — the outlier-resistant complement to
    * q106's moment profile: median and IQR ignore tail garbage that
    * wrecks mean/stddev on raw telemetry. Two passes: a per-type
    * percentile aggregate (3 values per type — broadcast back), then
    * one scan counting fence violations. The fence comparison runs on
    * 6-dp decimals (quantized values, rounded quartiles), so the
    * boundary decision is exact decimal arithmetic in both engines.
    */
  def q156RobustScale(s: SparkSession, dir: String): DataFrame = {
    val v = round(col("value"), 6).cast("decimal(18,6)")
    val ev = events(s, dir).select(col("event_type"), v.as("v"))
    val dec = (c: org.apache.spark.sql.Column) =>
      round(c, 6).cast("decimal(18,6)")
    val stats = ev.groupBy("event_type").agg(
      dec(expr("percentile(v, 0.5)")).as("med"),
      dec(expr("percentile(v, 0.75)") - expr("percentile(v, 0.25)"))
        .as("iqr"))
    ev.join(broadcast(stats), "event_type")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        max(col("med").cast("double")).as("median_v"),
        max(col("iqr").cast("double")).as("iqr_v"),
        sum(when(abs(col("v") - col("med")) >
          col("iqr") * lit(BigDecimal("1.5")), 1L).otherwise(0L))
          .as("n_outliers"))
      .orderBy("event_type")
  }

  val q156Oracle: String =
    """WITH v AS (SELECT event_type,
      |  CAST(round(value, 6) AS DECIMAL(18,6)) AS v FROM events),
      |st AS (SELECT event_type,
      |  CAST(round(quantile_cont(v, 0.5), 6) AS DECIMAL(18,6)) AS med,
      |  CAST(round(quantile_cont(v, 0.75) - quantile_cont(v, 0.25), 6)
      |    AS DECIMAL(18,6)) AS iqr
      | FROM v GROUP BY event_type)
      |SELECT v.event_type, count(*) AS n,
      | CAST(max(med) AS DOUBLE) AS median_v,
      | CAST(max(iqr) AS DOUBLE) AS iqr_v,
      | CAST(sum(CASE WHEN abs(v - med) > iqr * 1.5 THEN 1 ELSE 0 END)
      |   AS BIGINT) AS n_outliers
      |FROM v JOIN st ON v.event_type = st.event_type
      |GROUP BY v.event_type
      |ORDER BY v.event_type""".stripMargin

  /** EWMA (α = 0.5) of daily revenue per event type — the trend
    * smoother behind rate monitors and spend dashboards. The half-life
    * decay is EXACT fixed-point arithmetic: daily revenue becomes
    * integer cents, each lagged day contributes cents · 2^(15−k)
    * (k = day distance, window 16 days), and the decayed sum stays an
    * exact int64 until ONE final division — multiplication by a power
    * of two is the only "float" op and it is exact, so both engines
    * produce bit-identical doubles with no ordering hazard. α = 0.5 is
    * chosen precisely because its weights are binary-exact; arbitrary
    * α would reintroduce the pow() ulp race.
    *
    * Scale shape: raw events collapse to (type, day) cents in one
    * map-side-combinable aggregate — day-cardinality, metadata-sized
    * forever after; the 16-day decay is a bounded self-join on that
    * tiny aggregate, never on raw events.
    */
  def q159Ewma(s: SparkSession, dir: String): DataFrame = {
    val cents = (round(col("value"), 2).cast("decimal(18,2)") * 100)
      .cast("long")
    // day-cardinality aggregate used on both join sides — one scan
    val daily = events(s, dir)
      .filter(col("event_type") === "purchase")
      .groupBy(to_date(col("ts")).as("day"))
      .agg(sum(cents).as("rev_cents"))
      .localCheckpoint()
    val diff = datediff(col("a.day"), col("b.day"))
    daily.as("a")
      .join(daily.as("b"), diff >= 0 && diff <= 15)
      .groupBy(col("a.day").as("day"))
      .agg(max(when(diff === 0, col("b.rev_cents"))).as("rev_cents"),
        sum(col("b.rev_cents") *
          pow(lit(2.0), lit(15) - diff).cast("long")).as("num"))
      .select(col("day").cast("string").as("day"),
        round(col("rev_cents") / 100.0, 2).as("revenue"),
        round(col("num").cast("double") / (32768.0 * 100.0), 4)
          .as("ewma_decayed"))
      .orderBy("day")
  }

  val q159Oracle: String =
    """WITH daily AS (SELECT CAST(ts AS DATE) AS day,
      |  CAST(sum(CAST(CAST(round(value, 2) AS DECIMAL(18,2)) * 100
      |    AS BIGINT)) AS BIGINT) AS rev_cents
      | FROM events WHERE event_type = 'purchase' GROUP BY 1)
      |SELECT CAST(a.day AS VARCHAR) AS day,
      | round(max(CASE WHEN a.day = b.day THEN b.rev_cents END) / 100.0, 2)
      |   AS revenue,
      | round(CAST(CAST(sum(b.rev_cents *
      |     CAST(pow(2, 15 - date_diff('day', b.day, a.day)) AS BIGINT))
      |   AS BIGINT) AS DOUBLE) / (32768.0 * 100.0), 4) AS ewma_decayed
      |FROM daily a JOIN daily b
      |  ON date_diff('day', b.day, a.day) BETWEEN 0 AND 15
      |GROUP BY a.day
      |ORDER BY a.day""".stripMargin

  /** Interval-overlap join via grid bucketing — the interval×interval
    * sibling of q75's point-in-band join: per-(user, day) activity
    * intervals [first event, last event] against ±30 min incident
    * windows around error events; output = per-incident count of
    * distinct user-days whose activity overlaps the window.
    *
    * The naive `a.start <= b.end AND b.start <= a.end` theta join is a
    * cartesian at scale. Instead both interval sets explode onto a
    * 1-hour grid (an interval covers ceil(len/W)+1 ≈ len/W buckets —
    * bounded by interval length, the tunable W trading explode factor
    * against bucket density), meet on a bucket-key equi join, dedupe
    * the (incident, user-day) pair ONCE via groupBy, and re-verify the
    * exact overlap predicate on the survivors. Work is
    * O(overlaps + grid cells), partitioned by bucket; no nested-loop
    * join exists in the plan (PlanSpec-checkable shape shared with
    * q75).
    */
  def q160IntervalJoin(s: SparkSession, dir: String): DataFrame = {
    val w = 3600000L // 1 h grid
    val ev = events(s, dir)
      .withColumn("ms", unix_millis(col("ts").cast("timestamp")))
    val activity = ev
      .groupBy(col("user_id"), to_date(col("ts")).as("day"))
      .agg(min("ms").as("a_start"), max("ms").as("a_end"))
    val incidents = ev.filter(col("event_type") === "error")
      .select(col("event_id"), (col("ms") - 1800000L).as("i_start"),
        (col("ms") + 1800000L).as("i_end"))
    def gridded(df: DataFrame, lo: String, hi: String): DataFrame =
      df.withColumn("bucket",
        explode(sequence(floor(col(lo) / w), floor(col(hi) / w))))
    val cand = gridded(incidents, "i_start", "i_end").as("i")
      .join(gridded(activity, "a_start", "a_end").as("a"), "bucket")
      .filter(col("a_start") <= col("i_end") &&
        col("i_start") <= col("a_end"))
      .select(col("event_id"), col("user_id"), col("day"))
      .distinct()
    incidents.join(cand, Seq("event_id"), "left")
      .groupBy("event_id")
      .agg(sum(when(col("user_id").isNotNull, 1L).otherwise(0L))
        .as("n_user_days"))
      .orderBy("event_id")
  }

  val q160Oracle: String =
    """WITH ev AS (SELECT event_id, user_id, event_type,
      |  CAST(ts AS DATE) AS day,
      |  epoch_ms(CAST(ts AS TIMESTAMP)) AS ms FROM events),
      |activity AS (SELECT user_id, day, min(ms) AS a_start,
      |  max(ms) AS a_end FROM ev GROUP BY 1, 2),
      |incidents AS (SELECT event_id, ms - 1800000 AS i_start,
      |  ms + 1800000 AS i_end FROM ev WHERE event_type = 'error')
      |SELECT i.event_id,
      | CAST(count(a.user_id) AS BIGINT) AS n_user_days
      |FROM incidents i LEFT JOIN activity a
      |  ON a.a_start <= i.i_end AND i.i_start <= a.a_end
      |GROUP BY i.event_id
      |ORDER BY i.event_id""".stripMargin

  /** Point-in-time (PIT) join — the feature-store lookup: each
    * purchase probes the user's SCD2 status history (q126's validity
    * intervals) AS OF one millisecond before the purchase, answering
    * "what state was the user in when they converted" without leaking
    * the conversion event itself into its own feature (the train-serve
    * temporal-leakage guard).
    *
    * Scale shape: both sides shuffle ONCE on user_id — the natural
    * feature-store key — and the interval probe is a per-user merge
    * (intervals per user are bounded by that user's status changes,
    * so skew is per-entity history length, never global). No range
    * join, no broadcast of the full history. Probes before a user's
    * first interval fall into the 'none' bucket via the left join.
    */
  def q162PitJoin(s: SparkSession, dir: String): DataFrame = {
    val facts = events(s, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"),
        unix_millis(col("ts").cast("timestamp")).as("ms"),
        round(col("value"), 2).cast("decimal(18,2)").as("v"))
    val ivs = EventsOps.q126Scd2(s, dir)
      .select(col("user_id"), col("status"),
        col("valid_from_ms"), col("valid_to_ms"))
    val p = col("ms") - 1
    facts.join(ivs,
        facts("user_id") === ivs("user_id") &&
          p >= col("valid_from_ms") &&
          (col("valid_to_ms") === -1L || p < col("valid_to_ms")),
        "left")
      .groupBy(coalesce(col("status"), lit("none")).as("prior_status"))
      .agg(count(lit(1)).as("n_purchases"),
        sum(col("v")).cast("double").as("total_value"))
      .orderBy("prior_status")
  }

  val q162Oracle: String =
    """WITH e AS (SELECT user_id, event_type, epoch_ms(ts) AS ms,
      |  event_id, value,
      |  lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |    AS prev
      | FROM events),
      |chg AS (SELECT user_id, event_type AS status, ms, event_id FROM e
      |  WHERE prev IS NULL OR prev <> event_type),
      |iv AS (SELECT user_id, status, ms AS valid_from_ms,
      |  coalesce(lead(ms) OVER (PARTITION BY user_id ORDER BY ms,
      |    event_id), CAST(-1 AS BIGINT)) AS valid_to_ms
      | FROM chg),
      |facts AS (SELECT user_id, ms,
      |  CAST(round(value, 2) AS DECIMAL(18,2)) AS v
      | FROM e WHERE event_type = 'purchase')
      |SELECT coalesce(iv.status, 'none') AS prior_status,
      | count(*) AS n_purchases,
      | CAST(sum(v) AS DOUBLE) AS total_value
      |FROM facts LEFT JOIN iv
      |  ON facts.user_id = iv.user_id
      |  AND facts.ms - 1 >= iv.valid_from_ms
      |  AND (iv.valid_to_ms = -1 OR facts.ms - 1 < iv.valid_to_ms)
      |GROUP BY 1
      |ORDER BY prior_status""".stripMargin

  /** Frequency-ordered categorical indexer (MLlib StringIndexer
    * semantics, frequencyDesc with lexical tie-break): build the
    * label→index dictionary from counts, then ENCODE the table through
    * a broadcast join-back and prove the round trip by re-counting
    * encoded rows per index. At 100 TB the dictionary is
    * cardinality-sized metadata (one map-side-combinable aggregate);
    * the encode is a broadcast hash join the scan absorbs — the rows
    * never shuffle. Deterministic: index = rank over (count DESC,
    * value ASC), both stated identically in the oracle.
    */
  def q170StringIndexer(s: SparkSession, dir: String): DataFrame = {
    val dict = orders(s, dir).groupBy(col("o_orderpriority").as("value"))
      .agg(count(lit(1)).as("n"))
      .withColumn("idx", row_number().over(
        Window.orderBy(col("n").desc, col("value"))).cast("long") - 1)
    val encoded = orders(s, dir)
      .join(broadcast(dict.select(col("value"), col("idx"))),
        col("o_orderpriority") === col("value"))
      .groupBy("idx").agg(count(lit(1)).as("n_encoded"))
    dict.join(encoded, "idx")
      .select(col("idx"), col("value"), col("n"), col("n_encoded"))
      .orderBy("idx")
  }

  val q170Oracle: String =
    """WITH dict AS (SELECT o_orderpriority AS value, count(*) AS n,
      |  CAST(row_number() OVER (ORDER BY count(*) DESC,
      |    o_orderpriority) AS BIGINT) - 1 AS idx
      | FROM orders GROUP BY o_orderpriority)
      |SELECT idx, value, n, n AS n_encoded
      |FROM dict ORDER BY idx""".stripMargin

  /** Smoothing pseudo-count for [[q195TargetEncoding]]: the encoding
    * shrinks toward the out-of-fold global mean with the weight of
    * α virtual rows (Micci-Barreca, SIGKDD Explorations 2001).
    */
  val TargetEncAlpha = 10L

  /** Out-of-fold target encoding — the leakage-SAFE form of the most
    * leakage-prone feature transform in tabular ML. Encoding a
    * category by the mean target computed over rows INCLUDING the row
    * being encoded leaks the label; the standard fix is K-fold
    * exclusion: rows in fold f see the category mean computed from
    * every OTHER fold, smoothed toward the (also fold-excluded)
    * global mean with [[TargetEncAlpha]] pseudo-counts. Here: orders
    * are training rows, category = the customer's nation, target =
    * order total, fold = o_orderkey % 5.
    *
    * Determinism: target sums stay integer CENTS until the final
    * divisions (identical IEEE op tree on both engines, one 6-dp
    * round). Leakage-safety is algebraic, not a second pass:
    * out-of-fold sums are (category total − category-fold total),
    * so the whole transform is ONE (category, fold) aggregation —
    * |categories|·K rows — plus broadcast-sized rollups of it; the
    * corpus is scanned once however many folds there are.
    */
  def q195TargetEncoding(s: SparkSession, dir: String): DataFrame = {
    val rows = orders(s, dir)
      .join(customer(s, dir).select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_nationkey").as("nation"),
        pmod(col("o_orderkey"), lit(5L)).as("fold"),
        round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
    val nf = rows.groupBy("nation", "fold")
      .agg(count(lit(1)).as("n_nf"), sum("cents").as("s_nf"))
    // rollups of the (nation, fold) grid — ≤ |nations|·5 rows each,
    // broadcast back onto the grid rather than rescanning orders
    val byNation = nf.groupBy("nation")
      .agg(sum("n_nf").as("n_n"), sum("s_nf").as("s_n"))
    val byFold = nf.groupBy("fold")
      .agg(sum("n_nf").as("n_f"), sum("s_nf").as("s_f"))
    val global = nf.agg(sum("n_nf").as("n_g"), sum("s_nf").as("s_g"))
    val a = lit(TargetEncAlpha)
    nf.join(broadcast(byNation), "nation")
      .join(broadcast(byFold), "fold")
      .crossJoin(broadcast(global))
      .select(col("nation"), col("fold"),
        col("n_nf").as("n_in"),
        (col("n_n") - col("n_nf")).as("n_out"),
        round((
          ((col("s_n") - col("s_nf")).cast("double") / 100.0) +
            a.cast("double") *
              ((col("s_g") - col("s_f")).cast("double") /
                (lit(100.0) * (col("n_g") - col("n_f")))))
          / (col("n_n") - col("n_nf") + a).cast("double"), 6).as("enc"))
      .orderBy("nation", "fold")
  }

  val q195Oracle: String =
    """WITH rows_ AS (SELECT c.c_nationkey AS nation,
      |    o.o_orderkey % 5 AS fold,
      |    CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents
      |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
      |nf AS (SELECT nation, fold, count(*) AS n_nf, sum(cents) AS s_nf
      |  FROM rows_ GROUP BY 1, 2),
      |byn AS (SELECT nation, sum(n_nf) AS n_n, sum(s_nf) AS s_n
      |  FROM nf GROUP BY 1),
      |byf AS (SELECT fold, sum(n_nf) AS n_f, sum(s_nf) AS s_f
      |  FROM nf GROUP BY 1),
      |g AS (SELECT sum(n_nf) AS n_g, sum(s_nf) AS s_g FROM nf)
      |SELECT nf.nation, nf.fold, CAST(nf.n_nf AS BIGINT) AS n_in,
      |  CAST(byn.n_n - nf.n_nf AS BIGINT) AS n_out,
      |  round((
      |    (CAST(byn.s_n - nf.s_nf AS DOUBLE) / 100.0) +
      |      10.0 * (CAST(g.s_g - byf.s_f AS DOUBLE) /
      |        (100.0 * (g.n_g - byf.n_f))))
      |    / CAST(byn.n_n - nf.n_nf + 10 AS DOUBLE), 6) AS enc
      |FROM nf JOIN byn USING (nation) JOIN byf USING (fold) CROSS JOIN g
      |ORDER BY nation, fold""".stripMargin

  /** Oracle unroll depth for [[q198Coreness]]: iterated h-index
    * reaches the coreness fixpoint in 10/19/38 rounds at
    * sf0.001/0.01/0.1 (measured), so 44 covers every gate SF with
    * margin — extra rounds past the fixpoint are identity (the
    * h-index operator is idempotent there) and only cost oracle time.
    * The SPARK loop does NOT share this bound: it iterates to the
    * actual fixpoint under its own generous breaker
    * ([[CorenessLoopBreaker]]) so a larger corpus, whose convergence
    * can exceed the unroll depth, still gets the true decomposition.
    */
  val CorenessOracleRounds = 44

  /** Runaway guard for the [[q198Coreness]] fixpoint loop — far above
    * any plausible convergence (rounds grow ~logarithmically past the
    * measured 10→38 for 134× edges), never the semantic bound.
    */
  val CorenessLoopBreaker = 500

  /** Full k-core (coreness) decomposition of the part co-purchase
    * graph via iterated neighborhood h-index (Lü et al., Nature Sci.
    * Rep. 2016: h⁰ = degree, hᵗ⁺¹(v) = H(hᵗ of v's neighbors)
    * converges to coreness exactly — spot-validated against per-k
    * peeling). This yields coreness for EVERY node in one bounded
    * iteration, where threshold peeling answers only a single k — and
    * on this near-regular graph any fixed k collapses to an empty
    * core, so peeling has no stable gate.
    *
    * Scale shape: each round is one edge-list join against the
    * N-row h frame plus a per-node window whose partitions are DEGREE-
    * sized (never corpus-sized) — the aggregateMessages shape. The
    * frame is localCheckpoint-ed per round (the CC-loop discipline) so
    * lineage stays flat, and the convergence count rides the same
    * materialization. Round count grows slowly with graph size
    * (measured 10 → 38 for 134× edges); it is the scale knob to watch,
    * not per-round cost.
    *
    * Output: the coreness histogram — non-vacuous at every SF, and a
    * one-row-per-value summary however large the corpus.
    */
  def q198Coreness(s: SparkSession, dir: String): DataFrame = {
    // in-task arm: derive + peel in ONE job (the derivation was the
    // gate's remaining cost once the peel went single-task)
    if (GraphLocal.maxEdges(s) > 0)
      GraphLocal.corenessCoPurchase(s, rawOkPk(s, dir)) match {
        case Some(out) => return out
        case None =>
      }
    val li = lineitem(s, dir)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct()
    val edges = li.as("a")
      .join(li.as("b"), col("a.ok") === col("b.ok") &&
        col("a.pk") < col("b.pk"))
      .select(col("a.pk").as("u"), col("b.pk").as("v"))
      .distinct()
    corenessHistogram(s, edges)
  }

  /** Broadcast ceiling for the per-round h frame, in NODES: below it
    * each round ships the node-sized h frame by broadcast (zero
    * per-round shuffle); above it the loop switches to a join
    * co-partitioned on the standing nb partitioning, whose per-round
    * exchanges are all node-side-bounded (h, then the collapsed
    * (node, h)-histogram) — never edge-sized. At ~16 B/row the
    * default caps the broadcast near 64 MB, the practical executor
    * ceiling; specs pass a 0 ceiling to force the join path.
    */
  val CorenessBroadcastMaxNodes = 4000000L

  /** Coreness histogram of an arbitrary undirected edge list (u, v) —
    * the loop behind [[q198Coreness]], factored so FeatureSpec can
    * pin the fixpoint against hand-computed cores on synthetic graphs
    * (and pin the broadcast and co-partitioned-join transports equal
    * across the size switch).
    */
  /** Edge ceiling for the SINGLE-TASK coreness path: below it the
    * whole fixpoint runs as exact Matula–Beck bucket peeling inside
    * one `mapPartitions` task — one Spark job instead of ~40 rounds ×
    * (broadcast build + window + checkpoint + sum) whose SCHEDULING is
    * the measured floor at gate scale (profiled: every stride/
    * partition variant of the distributed loop converges to ~9-10 s
    * at sf0.1 because ~80 tiny jobs cost ~0.2 s each; the peel is one
    * O(E) task). At 4M edges the task holds two long arrays + a CSR
    * int array ≈ 100 MB — comfortably inside one executor core's
    * share, the same envelope q154's edge-cap switch uses. Above the
    * cap the distributed h-index loop below runs unchanged (it is the
    * 100 TB path, and the 10× scale corpus exceeds the cap, so
    * SCALE.md keeps measuring the distributed shape).
    * `graft.arms.forceDistributed` forces the distributed loop;
    * FeatureSpec pins both paths equal.
    */
  val CorenessLocalMaxEdges = 4000000L

  /** Exact coreness histogram by Batagelj–Zaveršnik bucket peeling in
    * one task — the sub-[[CorenessLocalMaxEdges]] arm of
    * [[corenessHistogram]]. The iterated h-index the distributed loop
    * computes CONVERGES to coreness (Lü et al. 2016), so the two arms
    * agree exactly; the peel just reaches the fixpoint in one O(E)
    * pass instead of ~40 scheduled rounds.
    */
  private def corenessLocalHistogram(s: SparkSession,
      edges: DataFrame): DataFrame = {
    import s.implicits._
    val hist = edges.select(col("u").cast("long"), col("v").cast("long"))
      .as[(Long, Long)]
      .coalesce(1)
      .mapPartitions { it =>
        val us = new scala.collection.mutable.ArrayBuffer[Long]()
        val vs = new scala.collection.mutable.ArrayBuffer[Long]()
        val idx = new java.util.HashMap[java.lang.Long, java.lang.Integer]()
        var n = 0
        def id(x: Long): Int = {
          val got = idx.get(x)
          if (got == null) { idx.put(x, n); n += 1; n - 1 }
          else got.intValue()
        }
        it.foreach { case (u, v) => us += u; vs += v }
        val m = us.length
        val eu = new Array[Int](m); val ev = new Array[Int](m)
        var i = 0
        while (i < m) { eu(i) = id(us(i)); ev(i) = id(vs(i)); i += 1 }
        // CSR adjacency
        val deg = new Array[Int](n)
        i = 0
        while (i < m) { deg(eu(i)) += 1; deg(ev(i)) += 1; i += 1 }
        val off = new Array[Int](n + 1)
        i = 0
        while (i < n) { off(i + 1) = off(i) + deg(i); i += 1 }
        val adj = new Array[Int](2 * m)
        val cur = java.util.Arrays.copyOf(off, n)
        i = 0
        while (i < m) {
          adj(cur(eu(i))) = ev(i); cur(eu(i)) += 1
          adj(cur(ev(i))) = eu(i); cur(ev(i)) += 1
          i += 1
        }
        // bucket-sorted peel: process vertices in increasing current
        // degree; a vertex's degree at removal is its coreness
        val maxDeg = if (n == 0) 0 else deg.max
        val bin = new Array[Int](maxDeg + 2)
        i = 0
        while (i < n) { bin(deg(i) + 1) += 1; i += 1 }
        i = 1
        while (i <= maxDeg + 1) { bin(i) += bin(i - 1); i += 1 }
        val pos = new Array[Int](n)   // vertex -> index in vert
        val vert = new Array[Int](n)  // sorted by current degree
        val binStart = java.util.Arrays.copyOf(bin, maxDeg + 2)
        i = 0
        while (i < n) {
          pos(i) = binStart(deg(i)); vert(pos(i)) = i
          binStart(deg(i)) += 1; i += 1
        }
        val core = new Array[Int](n)
        i = 0
        while (i < n) {
          val v = vert(i)
          core(v) = deg(v)
          var j = off(v)
          while (j < off(v + 1)) {
            val u = adj(j)
            if (deg(u) > deg(v)) {
              // swap u to the front of its degree bucket, then shrink
              val du = deg(u); val pu = pos(u)
              val pw = bin(du); val w = vert(pw)
              if (u != w) {
                pos(u) = pw; vert(pw) = u
                pos(w) = pu; vert(pu) = w
              }
              bin(du) += 1
              deg(u) -= 1
            }
            j += 1
          }
          i += 1
        }
        val counts = new java.util.HashMap[Int, Long]()
        i = 0
        while (i < n) { counts.merge(core(i), 1L, (a, b) => a + b); i += 1 }
        import scala.jdk.CollectionConverters._
        counts.asScala.iterator.map { case (c, k) => (c.toLong, k) }
      }
      .toDF("coreness", "n_nodes")
    hist.orderBy("coreness")
  }

  private[graft] def corenessHistogram(s: SparkSession, edges: DataFrame,
      broadcastMaxNodes: Long = CorenessBroadcastMaxNodes): DataFrame = {
    // size-based arm switch, MEASURED not assumed (the q154/q198-
    // transport discipline): one edge count (persisted, reused by the
    // distributed arm's sym build) picks single-task exact peeling at
    // gate scale or the iterated-h-index loop at cluster scale
    val localCap = graft.GraftSession.localCap(s, CorenessLocalMaxEdges)
    if (localCap > 0) {
      val e = edges.persist()
      val m = e.count()
      if (m <= localCap) {
        val out = corenessLocalHistogram(s, e)
        val rows = out.collect() // histogram-sized (max-coreness rows)
        e.unpersist(false)
        return s.createDataFrame(
          java.util.Arrays.asList(rows: _*), out.schema)
      }
      e.unpersist(false)
    }
    // hash-partition the edge list by the window/groupBy key ONCE:
    // every round's window and aggregation then run on the standing
    // partitioning with ZERO per-round shuffles — the h frame travels
    // by broadcast (the q146 rank-vector pattern) on graphs whose
    // node count fits [[CorenessBroadcastMaxNodes]], and by a
    // co-partitioned join on nb above it (the switch is MEASURED, not
    // assumed: a multi-GB broadcast × ~40 rounds would be the plan's
    // binding constraint at 100×). persist(), NOT localCheckpoint:
    // the loop constant needs its repartition node visible in the
    // plan so EnsureRequirements can elide the window exchange —
    // checkpointing would erase outputPartitioning and re-shuffle all
    // of sym every round (measured: one 2.4 M-row exchange per round
    // reappears). Lineage only grows on h, which stays checkpointed.
    // partition count follows the input scan's parallelism (floor 8):
    // a fixed small count would serialize the per-round windows on a
    // large corpus, a fixed large one would drown the ≤40 rounds in
    // empty-task scheduling at gate scale
    val parts = math.max(8, edges.rdd.getNumPartitions)
    val sym = edges.select(col("u").as("node"), col("v").as("nb"))
      .union(edges.select(col("v").as("node"), col("u").as("nb")))
      .repartition(parts, col("node"))
      .persist()
    var h = sym.groupBy("node").agg(count(lit(1)).as("h"))
      .localCheckpoint()
    // transport decision on the MEASURED node count (h is already
    // materialized, so this count is metadata-cheap)
    val useBroadcast = h.count() <= broadcastMaxNodes
    // the join transport keeps a SECOND standing copy keyed by nb —
    // the join side that must not re-shuffle per round. Materialized
    // from the persisted sym (one cheap pass), after which sym itself
    // is only a memory-bookkeeping entry.
    val symByNb =
      if (useBroadcast) sym
      else sym.repartition(parts, col("nb")).persist()
    var rounds = 0
    // Convergence by TOTAL: the h-index operator is pointwise
    // monotone non-increasing (h¹ = H(neighbor degrees) ≤ degree = h⁰,
    // and f ≤ g pointwise ⇒ H_f ≤ H_g, so induction carries it), so
    // Σh stalls exactly at the fixpoint. That replaces the per-round
    // old-vs-new join + second broadcast with one 1-row aggregate
    // over the just-checkpointed frame.
    var prevSum = Long.MinValue
    var changed = true
    // one h-index iteration as a PLAN (not an action): with neighbor
    // values sorted desc, h = max rank rn whose value still ≥ rn.
    // Ties need no break — the h-index is invariant under any
    // ordering of equal values.
    def step(prev: DataFrame): DataFrame = {
      val msg = prev.select(col("node").as("nb"), col("h"))
      val nv =
        if (useBroadcast) sym.join(broadcast(msg), "nb")
        // co-partitioned transport: only the node-sized h frame
        // exchanges (hashed to nb); the edge-sized symByNb side rides
        // its standing partitioning, and everything downstream is
        // histogram-sized
        else symByNb.join(msg.repartition(parts, col("nb")), "nb")
      // collapse neighbor values to a (node, value)-histogram BEFORE
      // the sort: the groupBy shares the standing node partitioning
      // (no exchange) and combines map-side, so the per-round window
      // sorts node×distinct-h rows (≤ nodes × max-coreness) instead
      // of the full edge list — the same answer by the classic
      // identity h = max over value classes of min(value, cum-count),
      // where cum-count(v) = #neighbors with value ≥ v. (Equivalence:
      // ranks ≤ cum(v) all carry value ≥ v, so rank min(v, cum(v))
      // satisfies value ≥ rank; no rank beyond every class's bound
      // can.) Cut the q198 sf0.1 edge-frame sort out of all ~40
      // rounds.
      val hist = nv.groupBy("node", "h").agg(count(lit(1)).as("c"))
      val w = Window.partitionBy("node").orderBy(col("h").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      hist.withColumn("cum", sum("c").over(w))
        .groupBy("node")
        .agg(coalesce(max(least(col("h"), col("cum"))), lit(0))
          .cast("long").as("h"))
    }
    while (changed && rounds < CorenessLoopBreaker) {
      // TWO iterations per materialization: the per-round cost at
      // gate scale is job scheduling + the checkpoint of the
      // node-sized h frame, not the edge pass (measured: stride-2
      // cut q198 sf0.1 wall ~25-30%), so fusing a second window over
      // the first step's broadcast into the same job halves the
      // action count. Overshooting the fixpoint by one fused step is
      // harmless — the fixpoint is stable under further iteration.
      h = step(step(h)).localCheckpoint()
      val s2 = h.agg(coalesce(sum("h"), lit(0L))).head().getLong(0)
      // stride-2 stall still detects the TRUE fixpoint: h is
      // pointwise monotone non-increasing, so Σh(t+2) = Σh(t) forces
      // h(t+2) = h(t) pointwise, which sandwiches h(t+1) = h(t).
      changed = s2 != prevSum
      prevSum = s2
      rounds += 2
    }
    sym.unpersist(false)
    if (!useBroadcast) symByNb.unpersist(false)
    h.groupBy("h").agg(count(lit(1)).as("n_nodes"))
      .select(col("h").as("coreness"), col("n_nodes"))
      .orderBy("coreness")
  }

  val q198Oracle: String = {
    // AS MATERIALIZED is load-bearing: DuckDB inlines single-reference
    // CTEs, and a 44-deep inlined join/window chain sends its
    // optimizer superlinear (measured >20 min; materialized: 1.4 s)
    val rounds = (1 to CorenessOracleRounds).map { i =>
      s"""h$i AS MATERIALIZED (
         |  SELECT node,
         |    CAST(coalesce(max(CASE WHEN nh >= rn THEN rn END), 0)
         |      AS BIGINT) AS h
         |  FROM (SELECT s.node, p.h AS nh,
         |          row_number() OVER (PARTITION BY s.node
         |            ORDER BY p.h DESC) AS rn
         |        FROM sym s JOIN h${i - 1} p ON s.nb = p.node)
         |  GROUP BY node)""".stripMargin
    }.mkString(",\n")
    s"""WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
       |  FROM lineitem),
       |ed AS (SELECT DISTINCT a.pk AS u, b.pk AS v
       |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
       |sym AS MATERIALIZED (SELECT u AS node, v AS nb FROM ed
       |  UNION ALL SELECT v, u FROM ed),
       |h0 AS MATERIALIZED (SELECT node, count(*) AS h
       |  FROM sym GROUP BY node),
       |$rounds
       |SELECT h AS coreness, count(*) AS n_nodes
       |FROM h$CorenessOracleRounds
       |GROUP BY h
       |ORDER BY coreness""".stripMargin
  }

  /** Minimum distinct orders a part pair must share to be a
    * co-purchase edge ([[q206LabelPropagation]]/[[q207BfsHops]]).
    * The unthresholded graph is hub-dominated (diameter 2 — every BFS
    * and LPA collapses immediately); requiring repeat co-occurrence
    * keeps only affinity edges, giving hop profiles 0–4 + unreachable
    * and non-trivial communities at the gate SFs. The same
    * signal-vs-hub filter an item-similarity graph applies in
    * production, and the df-cap idea of q41 from the other direction.
    */
  val CoEdgeMinOrders = 2

  /** LPA/BFS round count: fixed (not run-to-convergence) so the gate
    * is a bounded, order-unrollable computation on BOTH engines —
    * synchronous LPA has no convergence guarantee anyway (bipartite
    * oscillation), so fixed-round is the honest semantics.
    */
  val GraphRounds = 4

  /** Sparsified co-purchase graph: undirected edges between parts
    * bought together in ≥ [[CoEdgeMinOrders]] distinct orders.
    * The pair join is bounded per order (q154's containment: pairs
    * never cross orders) and the threshold is a map-side-combinable
    * count on the pair key.
    */
  private[graft] def coPurchaseEdges(s: SparkSession, dir: String): DataFrame =
    coPurchaseEdgesWeighted(s, dir).select("u", "v")

  /** [[coPurchaseEdges]] with the distinct-order count kept as `w`
    * (q230's edge weight). In-task arm below the cap (the derivation
    * — a corpus-scale self-join + count — was the dominant remaining
    * cost of every graph gate once the kernels went single-task);
    * the distributed join/agg is the 100 TB path and the overflow
    * fallback.
    */
  private[graft] def coPurchaseEdgesWeighted(
      s: SparkSession, dir: String): DataFrame = {
    if (GraphLocal.maxEdges(s) > 0)
      GraphLocal.coPurchaseEdgesLocal(s, rawOkPk(s, dir),
          CoEdgeMinOrders) match {
        case Some(out) => return out
        case None =>
      }
    val li = lineitem(s, dir)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct()
    li.as("a")
      .join(li.as("b"), col("a.ok") === col("b.ok") &&
        col("a.pk") < col("b.pk"))
      .groupBy(col("a.pk").as("u"), col("b.pk").as("v"))
      .agg(count(lit(1)).as("w"))
      .filter(col("w") >= CoEdgeMinOrders)
  }

  /** Both directions of [[coPurchaseEdges]], hash-partitioned ONCE by
    * the per-round join key and persisted — the q198 pattern: each
    * LPA/BFS round then joins the (node-sized) state frame against a
    * standing edge partitioning instead of re-exchanging the edges.
    */
  private[graft] def bidirPartitioned(s: SparkSession,
      e: DataFrame): DataFrame = {
    val parts = math.max(s.sparkContext.defaultParallelism, 8)
    e.select(col("u").as("src"), col("v").as("dst"))
      .unionByName(e.select(col("v").as("src"), col("u").as("dst")))
      .repartition(parts, col("src"))
      .persist()
  }

  /** Community detection via synchronous label propagation (Raghavan
    * et al. 2007, Phys. Rev. E 76): labels seed as node ids; each
    * round every node adopts the most frequent label among its
    * neighbors, ties to the smallest label — an integer argmin, so
    * the full trajectory is deterministic and cross-engine exact
    * (asynchronous LPA's update-order dependence is exactly what a
    * distributed engine cannot promise; synchronous fixed-round is
    * the form that shards). [[GraphRounds]] rounds, then (node,
    * community) for every node of the sparsified graph.
    *
    * Scale: per round, labels travel along edges once — the groupBy
    * (dst, label) partially aggregates map-side so the wire carries
    * distinct (node, neighbor-label) pairs, not raw edge traffic; the
    * argmax is a second aggregate on the SAME key prefix. Edges hold
    * their partitioning across all rounds (persist, not checkpoint —
    * the q198 lesson: checkpointing erases outputPartitioning).
    */
  def q206LabelPropagation(s: SparkSession, dir: String): DataFrame =
    labelPropagation(s, coPurchaseEdges(s, dir), GraphRounds)

  /** The LPA loop over an arbitrary undirected (u, v) edge list —
    * factored so GraphSpec can pin community structure on hand graphs.
    * Size-based arm switch (the q198 pattern, VERDICT r12 ask #2):
    * below [[GraphLocal.maxEdges]] the identical synchronous
    * recurrence runs as one single-task job ([[GraphLocal.lpa]]);
    * above it the standing-partition rounds below are the 100 TB path.
    */
  private[graft] def labelPropagation(s: SparkSession, edges: DataFrame,
      rounds: Int): DataFrame = {
    val localCap = GraphLocal.maxEdges(s)
    if (localCap > 0) {
      val e = edges.persist()
      if (GraphLocal.localArmEligible(e, localCap, Seq("u", "v"))) {
        // kernel output is node-sized: materialize off the cached edge
        // frame before releasing it
        val out = GraphLocal.lpa(s, e, rounds)
          .select(col("node"), col("community")).localCheckpoint()
        e.unpersist(false)
        return out
      }
      e.unpersist(false)
    }
    val bidir = bidirPartitioned(s, edges)
    try {
      var labels = bidir.select(col("src").as("node")).distinct()
        .withColumn("label", col("node"))
      for (_ <- 1 to rounds) {
        labels = bidir.join(labels, col("src") === col("node"))
          .groupBy(col("dst"), col("label"))
          .agg(count(lit(1)).as("cnt"))
          .groupBy(col("dst"))
          .agg(min(struct((-col("cnt")).as("nc"), col("label").as("l")))
            .as("m"))
          .select(col("dst").as("node"), col("m.l").as("label"))
      }
      labels.select(col("node"), col("label").as("community"))
        .orderBy("node")
        .localCheckpoint() // materialize before unpersisting the edges
    } finally bidir.unpersist()
  }

  /** CTE chain ending in `r4(node, label)` — the LPA replay shared by
    * the q206 gate and the q224 modularity gate so the two cannot
    * disagree about the partition being scored.
    */
  private val lpaCtes: String = {
    def round(prev: String): String =
      s"""(SELECT node, label FROM (
        |  SELECT e.dst AS node, l.label, count(*) AS cnt,
        |    row_number() OVER (PARTITION BY e.dst
        |      ORDER BY count(*) DESC, l.label ASC) AS rn
        |  FROM $prev l JOIN bidir e ON l.node = e.src
        |  GROUP BY e.dst, l.label) WHERE rn = 1)""".stripMargin
    s"""li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
      |    FROM lineitem),
      |edges AS (SELECT a.pk AS u, b.pk AS v
      |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
      |  GROUP BY 1, 2 HAVING count(*) >= $CoEdgeMinOrders),
      |bidir AS (SELECT u AS src, v AS dst FROM edges
      |  UNION ALL SELECT v, u FROM edges),
      |r0 AS (SELECT DISTINCT src AS node, src AS label FROM bidir),
      |r1 AS ${round("r0")},
      |r2 AS ${round("r1")},
      |r3 AS ${round("r2")},
      |r4 AS ${round("r3")}""".stripMargin
  }

  val q206Oracle: String =
    s"""WITH $lpaCtes
      |SELECT node, label AS community FROM r4 ORDER BY node""".stripMargin

  /** Modularity of the q206 label-propagation partition (Newman &
    * Girvan 2004) — the quality score that tells you whether a
    * community structure is real: Q = Σ_c (l_c/m − (d_c/2m)²). Every
    * term is computed as the EXACT integer 4m·l_c − d_c² over the
    * common denominator 4m², so per-community contributions and the
    * total are one identical double division each, rounded to 6 dp —
    * no float accumulates. Communities are re-derived by the same
    * [[labelPropagation]] loop (Spark) / CTE chain (oracle) as q206,
    * so the scored partition cannot drift from the gated one.
    *
    * Scale: l_c is one join of the edge list against the broadcast
    * node→community map (both endpoints) with a map-side count; d_c
    * is a node-sized aggregate; the total is a 1-row reduce. Output
    * is community-sized plus a TOTAL row (community = -1).
    *
    * Measured finding the gate preserves: on the sparsified
    * co-purchase graph, 4-round SYNCHRONOUS LPA scores Q ≈ 0 (3 of
    * 3573 edges internal at sf0.1) — synchronous updates oscillate on
    * sparse near-bipartite structure, a known LPA failure mode the
    * metric exists to catch; the q57 connected components score
    * Q > 0 on the same graph by construction.
    */
  def q224Modularity(s: SparkSession, dir: String): DataFrame = {
    val edges = coPurchaseEdges(s, dir).localCheckpoint()
    val labels = labelPropagation(s, edges, GraphRounds)
    val m = edges.count()
    val deg = edges.select(col("u").as("node"))
      .union(edges.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    val dc = labels.join(deg, "node")
      .groupBy("community")
      .agg(sum("deg").as("d_c"), count(lit(1)).as("n_nodes"))
    val lc = edges
      .join(labels.select(col("node").as("u"), col("community").as("cu")),
        "u")
      .join(labels.select(col("node").as("v"), col("community").as("cv")),
        "v")
      .filter(col("cu") === col("cv"))
      .groupBy(col("cu").as("community"))
      .agg(count(lit(1)).as("l_c"))
    val per = dc.join(lc, Seq("community"), "left")
      .select(col("community"), col("n_nodes"),
        coalesce(col("l_c"), lit(0L)).as("l_c"), col("d_c"))
      .withColumn("num",
        lit(4L) * lit(m) * col("l_c") - col("d_c") * col("d_c"))
    val total = per.agg(sum("num").as("tnum"),
        sum("n_nodes").as("tn"), sum("l_c").as("tl"), sum("d_c").as("td"))
      .select(lit(-1L).as("community"), col("tn").as("n_nodes"),
        col("tl").as("internal_edges"), col("td").as("degree_sum"),
        (round(col("tnum").cast("double") /
          (lit(4.0) * lit(m).cast("double") * lit(m).cast("double")), 6)
          + lit(0.0)).as("q_contrib"))
    per.select(col("community"), col("n_nodes"),
        col("l_c").as("internal_edges"), col("d_c").as("degree_sum"),
        // + 0.0 folds IEEE -0.0 (a tiny negative contribution rounded
        // to six decimals) onto +0.0 — the engines disagree on the
        // sign of rounded-away negatives and the gate hashes bits
        (round(col("num").cast("double") /
          (lit(4.0) * lit(m).cast("double") * lit(m).cast("double")), 6)
          + lit(0.0)).as("q_contrib"))
      .unionByName(total)
      .orderBy("community")
  }

  val q224Oracle: String =
    s"""WITH $lpaCtes,
      |labels AS (SELECT node, label AS community FROM r4),
      |m AS (SELECT count(*) AS m FROM edges),
      |deg AS (SELECT node, count(*) AS deg FROM (
      |  SELECT u AS node FROM edges UNION ALL SELECT v FROM edges)
      | GROUP BY node),
      |dc AS (SELECT community, CAST(sum(deg) AS BIGINT) AS d_c,
      |  count(*) AS n_nodes
      | FROM labels JOIN deg USING (node) GROUP BY community),
      |lc AS (SELECT lu.community, count(*) AS l_c
      | FROM edges e
      | JOIN labels lu ON e.u = lu.node
      | JOIN labels lv ON e.v = lv.node
      | WHERE lu.community = lv.community GROUP BY lu.community),
      |per AS (SELECT d.community, d.n_nodes,
      |  coalesce(l.l_c, 0) AS l_c, d.d_c,
      |  4 * m * coalesce(l.l_c, 0) - d.d_c * d.d_c AS num
      | FROM dc d LEFT JOIN lc l USING (community) CROSS JOIN m),
      |rows_ AS (SELECT community, CAST(n_nodes AS BIGINT) AS n_nodes,
      |  CAST(l_c AS BIGINT) AS internal_edges,
      |  d_c AS degree_sum,
      |  round(CAST(num AS DOUBLE)
      |    / (4.0 * CAST(m AS DOUBLE) * CAST(m AS DOUBLE)), 6) + 0.0
      |    AS q_contrib
      | FROM per CROSS JOIN m),
      |tot AS (SELECT CAST(-1 AS BIGINT) AS community,
      |  CAST(sum(n_nodes) AS BIGINT) AS n_nodes,
      |  CAST(sum(l_c) AS BIGINT) AS internal_edges,
      |  CAST(sum(d_c) AS BIGINT) AS degree_sum,
      |  round(CAST(sum(num) AS DOUBLE)
      |    / (4.0 * CAST(max(m) AS DOUBLE) * CAST(max(m) AS DOUBLE)), 6)
      |    + 0.0 AS q_contrib
      | FROM per CROSS JOIN m)
      |SELECT * FROM (SELECT * FROM rows_ UNION ALL SELECT * FROM tot)
      |ORDER BY community""".stripMargin

  /** Degree assortativity (Newman, PRL 2002): the Pearson correlation
    * of endpoint degrees over the directed edge list — positive when
    * hubs buy with hubs, negative when hubs pair with the periphery
    * (the usual shape of co-purchase graphs). Every moment (Σx, Σx²,
    * Σxy over the 2m directed edges; symmetric, so x and y moments
    * coincide — both stated anyway) is an exact DECIMAL(38,0) integer
    * sum (decimal-cast before multiply: M·Σxy passes int64 at sf1);
    * the final r is one identically-stated double expression — sqrt
    * is IEEE-correctly-rounded, so r matches bit-for-bit before its
    * 6 dp rounding.
    */
  def q225Assortativity(s: SparkSession, dir: String): DataFrame = {
    val edges = coPurchaseEdges(s, dir)
    val bidir = edges.select(col("u").as("src"), col("v").as("dst"))
      .union(edges.select(col("v").as("src"), col("u").as("dst")))
    val deg = bidir.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("deg"))
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val xy = bidir
      .join(deg.select(col("node").as("src"), col("deg").as("x")), "src")
      .join(deg.select(col("node").as("dst"), col("deg").as("y")), "dst")
    val agg = xy.agg(count(lit(1)).as("mm"),
      sum(dec(col("x"))).as("sx"), sum(dec(col("y"))).as("sy"),
      sum(dec(col("x")) * dec(col("x"))).as("sxx"),
      sum(dec(col("y")) * dec(col("y"))).as("syy"),
      sum(dec(col("x")) * dec(col("y"))).as("sxy"))
    agg.select(
        (col("mm") / 2).cast("long").as("n_edges"),
        round(
          ((col("mm").cast("double") * col("sxy").cast("double")) -
            col("sx").cast("double") * col("sy").cast("double")) /
          sqrt(
            (col("mm").cast("double") * col("sxx").cast("double") -
              col("sx").cast("double") * col("sx").cast("double")) *
            (col("mm").cast("double") * col("syy").cast("double") -
              col("sy").cast("double") * col("sy").cast("double"))), 6)
          .as("assortativity"))
  }

  val q225Oracle: String =
    s"""WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
      |    FROM lineitem),
      |edges AS (SELECT a.pk AS u, b.pk AS v
      |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
      |  GROUP BY 1, 2 HAVING count(*) >= $CoEdgeMinOrders),
      |bidir AS (SELECT u AS src, v AS dst FROM edges
      |  UNION ALL SELECT v, u FROM edges),
      |deg AS (SELECT src AS node, count(*) AS deg FROM bidir
      |  GROUP BY src),
      |xy AS (SELECT dx.deg AS x, dy.deg AS y
      | FROM bidir b JOIN deg dx ON b.src = dx.node
      | JOIN deg dy ON b.dst = dy.node),
      |agg AS (SELECT count(*) AS mm,
      |  sum(CAST(x AS DECIMAL(38,0))) AS sx,
      |  sum(CAST(y AS DECIMAL(38,0))) AS sy,
      |  sum(CAST(x AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0))) AS sxx,
      |  sum(CAST(y AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0))) AS syy,
      |  sum(CAST(x AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0))) AS sxy
      | FROM xy)
      |SELECT CAST(mm / 2 AS BIGINT) AS n_edges,
      |  round(((CAST(mm AS DOUBLE) * CAST(sxy AS DOUBLE))
      |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      |    / sqrt((CAST(mm AS DOUBLE) * CAST(sxx AS DOUBLE)
      |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
      |      * (CAST(mm AS DOUBLE) * CAST(syy AS DOUBLE)
      |        - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
      |    AS assortativity
      |FROM agg""".stripMargin

  /** Multi-source BFS hop distances — seeds are parts with
    * pk ≡ 0 (mod 97) (a "products under recall" set), frontier
    * expansion for [[GraphRounds]] hops over the sparsified
    * co-purchase graph, report = per-distance histogram with
    * min/max node witnesses and a −1 bucket for parts unreachable
    * within the horizon (non-empty at the gate SFs — the threshold
    * disconnects the hub mesh).
    *
    * Scale: the classic distributed BFS — per round only the FRONTIER
    * (nodes first reached last round) joins the standing edge
    * partitioning, so total traffic is Σ frontier-degree ≤ one edge
    * pass across all rounds, not rounds × edges; state is one
    * node-sized (node, dist) frame min-merged per round.
    */
  def q207BfsHops(s: SparkSession, dir: String): DataFrame =
    bfsHistogram(s, coPurchaseEdges(s, dir),
      n => pmod(n, lit(97L)) === 0, n => n % 97 == 0, GraphRounds)

  /** The frontier-BFS loop over an arbitrary undirected (u, v) edge
    * list — factored so GraphSpec can pin hop counts on hand graphs.
    * `seed`/`seedLocal` are the same predicate in Column and Long form
    * (the arm switch needs both; GraphSpec pins the arms equal on the
    * gate's mod-97 seed so the two cannot drift): below
    * [[GraphLocal.maxEdges]] the identical frontier recurrence runs as
    * one single-task job ([[GraphLocal.bfs]]).
    */
  private[graft] def bfsHistogram(s: SparkSession, edges: DataFrame,
      seed: Column => Column, seedLocal: Long => Boolean,
      rounds: Int): DataFrame = {
    val localCap = GraphLocal.maxEdges(s)
    if (localCap > 0) {
      val e = edges.persist()
      if (GraphLocal.localArmEligible(e, localCap, Seq("u", "v"))) {
        val out = GraphLocal.bfs(s, e, seedLocal, rounds).localCheckpoint()
        e.unpersist(false)
        return out
      }
      e.unpersist(false)
    }
    val bidir = bidirPartitioned(s, edges)
    try {
      val nodes = bidir.select(col("src").as("node")).distinct()
      var dist = nodes.filter(seed(col("node")))
        .withColumn("dist", lit(0L))
      for (r <- 1 to rounds) {
        val next = dist.filter(col("dist") === (r - 1))
          .join(bidir, col("node") === col("src"))
          .select(col("dst").as("node"), lit(r.toLong).as("dist"))
        dist = dist.unionByName(next)
          .groupBy("node").agg(min("dist").as("dist"))
      }
      val out = nodes.join(dist, Seq("node"), "left")
        .select(col("node"), coalesce(col("dist"), lit(-1L)).as("dist"))
        .groupBy("dist")
        .agg(count(lit(1)).as("n"), min("node").as("min_node"),
          max("node").as("max_node"))
        .orderBy("dist")
        .localCheckpoint()
      out
    } finally bidir.unpersist()
  }

  val q207Oracle: String = {
    def relax(prev: String): String =
      s"""(SELECT node, min(dist) AS dist FROM (
        |  SELECT node, dist FROM $prev UNION ALL
        |  SELECT b.dst, p.dist + 1 FROM $prev p
        |    JOIN bidir b ON p.node = b.src) GROUP BY 1)""".stripMargin
    s"""WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
      |    FROM lineitem),
      |edges AS (SELECT a.pk AS u, b.pk AS v
      |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
      |  GROUP BY 1, 2 HAVING count(*) >= $CoEdgeMinOrders),
      |bidir AS (SELECT u AS src, v AS dst FROM edges
      |  UNION ALL SELECT v, u FROM edges),
      |nodes AS (SELECT DISTINCT src AS node FROM bidir),
      |d0 AS (SELECT node, 0 AS dist FROM nodes WHERE node % 97 = 0),
      |d1 AS ${relax("d0")},
      |d2 AS ${relax("d1")},
      |d3 AS ${relax("d2")},
      |d4 AS ${relax("d3")}
      |SELECT CAST(coalesce(d.dist, -1) AS BIGINT) AS dist,
      |  CAST(count(*) AS BIGINT) AS n,
      |  min(n2.node) AS min_node, max(n2.node) AS max_node
      |FROM nodes n2 LEFT JOIN d4 d ON n2.node = d.node
      |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** Adamic–Adar link prediction over the co-purchase graph (Adamic &
    * Adar, "Friends and neighbors on the Web", Social Networks 2003):
    * for part pairs NOT yet co-purchased, score the likelihood of a
    * future co-purchase as Σ_z 1/ln(deg z) over common neighbors z —
    * hub neighbors count less — and report the top 20 candidate
    * links. The graph is temporally scoped to H1-1995 co-purchases
    * (link prediction is inherently "from a window, predict the
    * next"), which also bounds the wedge volume to a constant
    * fraction of the corpus at every SF.
    *
    * Exactness: per-neighbor weights 1/ln(deg) are rounded to 6 dp
    * and quantized to DECIMAL before the per-pair sum (the q142
    * device; ln's argument is an integer degree, and any z serving as
    * a common neighbor has deg ≥ 2, so ln ≥ ln 2 > 0). Integer
    * common-neighbor counts tie-break through the score ordering.
    *
    * Scale: the wedge fan-out is Σ C(deg_z, 2) — the inherent cost of
    * enumerating common-neighbor pairs — generated per-z by an
    * equi-self-join of the adjacency list (hash-partitioned on z,
    * never a cross join); the scoring join keys on z and the final
    * top-20 is a distributed TakeOrdered. The edge list is
    * checkpointed once and reused by the wedge sides and the
    * anti-join probe (the q154 pattern). Production hub-capping
    * (dropping z above a degree ceiling) is the standard lever if a
    * domain's Σ C(deg,2) outgrows the cluster; this window's max
    * degree is ~47, far below any such ceiling.
    */
  def q218LinkPrediction(s: SparkSession, dir: String): DataFrame = {
    def ts(x: String) = lit(x).cast("timestamp")
    val inWindow = orders(s, dir)
      .filter(col("o_orderdate") >= ts("1995-01-01") &&
        col("o_orderdate") < ts("1995-07-01"))
      .select(col("o_orderkey"))
    // in-task arm: the window join stays distributed (the planner
    // broadcasts the small order-key side on its own stats at gate
    // SFs, so the single kernel task reads the lineitem scan through
    // a narrow join), then the whole edge derivation + Adamic-Adar
    // fold runs in ONE task. No broadcast() hint (ADVICE r13): a
    // corpus-scale window must degrade to a shuffle join feeding the
    // sentinel-guarded kernel, not die on the 8 GB broadcast cap.
    if (GraphLocal.maxEdges(s) > 0)
      GraphLocal.adamicAdarCoPurchase(s,
        lineitem(s, dir)
          .join(inWindow, col("l_orderkey") === col("o_orderkey"))
          .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))) match {
        case Some(out) => return out
        case None =>
      }
    val li = lineitem(s, dir)
      .join(inWindow, col("l_orderkey") === col("o_orderkey"))
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct()
    val edges = li.as("a")
      .join(li.as("b"), col("a.ok") === col("b.ok") &&
        col("a.pk") < col("b.pk"))
      .select(col("a.pk").as("u"), col("b.pk").as("v"))
      .distinct()
      .localCheckpoint()
    val nbrs = edges.select(col("u").as("node"), col("v").as("nbr"))
      .union(edges.select(col("v").as("node"), col("u").as("nbr")))
    val wz = nbrs.groupBy("node").agg(count(lit(1)).as("deg"))
      .filter(col("deg") >= 2)
      .select(col("node"),
        round(lit(1.0) / log(col("deg").cast("double")), 6)
          .cast("decimal(12,6)").as("w"))
    val pairs = nbrs.as("a")
      .join(nbrs.as("b"), col("a.node") === col("b.node") &&
        col("a.nbr") < col("b.nbr"))
      .select(col("a.node").as("node"),
        col("a.nbr").as("u"), col("b.nbr").as("v"))
    pairs.join(wz, "node")
      .groupBy("u", "v")
      .agg(count(lit(1)).as("common_nbrs"), sum("w").as("aas"))
      .join(edges, Seq("u", "v"), "left_anti")
      .orderBy(col("aas").desc, col("u"), col("v")).limit(20)
      .select(col("u"), col("v"), col("common_nbrs"),
        col("aas").cast("double").as("adamic_adar"))
      .orderBy(col("adamic_adar").desc, col("u"), col("v"))
  }

  val q218Oracle: String =
    """WITH li AS (SELECT DISTINCT l.l_orderkey AS ok, l.l_partkey AS pk
      | FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      | WHERE o.o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
      |   AND o.o_orderdate < TIMESTAMP '1995-07-01 00:00:00'),
      |edges AS (SELECT DISTINCT a.pk AS u, b.pk AS v
      | FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
      |nbrs AS (SELECT u AS node, v AS nbr FROM edges
      | UNION ALL SELECT v AS node, u AS nbr FROM edges),
      |wz AS (SELECT node,
      |  CAST(round(CAST(1.0 AS DOUBLE) / ln(CAST(deg AS DOUBLE)), 6)
      |    AS DECIMAL(12,6)) AS w
      | FROM (SELECT node, count(*) AS deg FROM nbrs GROUP BY node)
      | WHERE deg >= 2),
      |pairs AS (SELECT a.node AS node, a.nbr AS u, b.nbr AS v
      | FROM nbrs a JOIN nbrs b ON a.node = b.node AND a.nbr < b.nbr),
      |aa AS (SELECT u, v, count(*) AS common_nbrs, sum(w) AS aas
      | FROM pairs JOIN wz USING (node) GROUP BY u, v),
      |cand AS (SELECT aa.* FROM aa
      | ANTI JOIN edges e ON aa.u = e.u AND aa.v = e.v)
      |SELECT u, v, CAST(common_nbrs AS BIGINT) AS common_nbrs,
      |  CAST(aas AS DOUBLE) AS adamic_adar
      |FROM cand ORDER BY aas DESC, u, v LIMIT 20""".stripMargin

  /** HITS hubs & authorities (Kleinberg, JACM 1999) over the
    * bipartite customer→part purchase graph — the classic use:
    * hubs = broad buyers, authorities = widely-bought parts. Two
    * UNNORMALIZED power iterations: a⁰ ≡ 1, h¹ = out-degree,
    * a¹ = Σ_buyers h¹, h² = Σ_parts a¹, a² = Σ_buyers h² — every score
    * an exact 64-bit integer (magnitudes ≤ deg_p²·deg_c², ~10¹⁰ even
    * at sf100 since a customer's degree is bounded by the data
    * model), so the ranking is bit-exact with no normalization float.
    * Production HITS normalizes each round and iterates to a
    * tolerance; the fixed-round unnormalized form RANKS identically
    * round-for-round (normalization is a positive scalar) and is the
    * shardable, engine-exact rendition.
    *
    * Scale: each half-iteration is one equi join of the edge list
    * against a node-sized score frame plus a map-side-combinable sum;
    * the edge list is checkpointed once and reused by all four
    * rounds; top-10s are distributed TakeOrdered.
    */
  def q219Hits(s: SparkSession, dir: String): DataFrame = {
    // in-task arm: the planner broadcasts the order→customer side on
    // its own stats at gate SFs, so the kernel task reads the
    // lineitem scan through a narrow join; dedupe and all four sweeps
    // run in ONE task (sentinel-guarded: nulls, ids ≥ 2³² or an
    // oversized row count fall back below). No broadcast() hint
    // (ADVICE r13): a corpus-scale orders table must degrade to a
    // shuffle join feeding the sentinel-guarded kernel, not die on
    // the 8 GB broadcast cap.
    if (GraphLocal.maxEdges(s) > 0)
      GraphLocal.hitsBipartite(s,
        lineitem(s, dir)
          .select(col("l_orderkey").as("ok"), col("l_partkey").as("p"))
          .join(orders(s, dir)
            .select(col("o_orderkey").as("ok"), col("o_custkey").as("c")),
            "ok")
          .select("c", "p")) match {
        case Some(out) => return out
        case None =>
      }
    val cp = lineitem(s, dir)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("p"))
      .join(orders(s, dir)
        .select(col("o_orderkey").as("ok"), col("o_custkey").as("c")), "ok")
      .select("c", "p").distinct()
      .localCheckpoint()
    val h1 = cp.groupBy("c").agg(count(lit(1)).as("h1"))
    val a1 = cp.join(h1, "c").groupBy("p").agg(sum("h1").as("a1"))
    val h2 = cp.join(a1, "p").groupBy("c").agg(sum("a1").as("h2"))
    val a2 = cp.join(h2, "c").groupBy("p").agg(sum("h2").as("a2"))
    val hubs = h1.join(h2, "c")
      .orderBy(col("h2").desc, col("c")).limit(10)
      .select(lit("hub").as("kind"), col("c").as("node"),
        col("h1").as("score_r1"), col("h2").as("score_r2"))
    val auths = a1.join(a2, "p")
      .orderBy(col("a2").desc, col("p")).limit(10)
      .select(lit("authority").as("kind"), col("p").as("node"),
        col("a1").as("score_r1"), col("a2").as("score_r2"))
    hubs.unionByName(auths)
      .orderBy(col("kind"), col("score_r2").desc, col("node"))
  }

  val q219Oracle: String =
    """WITH cp AS (SELECT DISTINCT o_custkey AS c, l_partkey AS p
      | FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      |h1 AS (SELECT c, count(*) AS h1 FROM cp GROUP BY c),
      |a1 AS (SELECT p, CAST(sum(h1) AS BIGINT) AS a1
      | FROM cp JOIN h1 USING (c) GROUP BY p),
      |h2 AS (SELECT c, CAST(sum(a1) AS BIGINT) AS h2
      | FROM cp JOIN a1 USING (p) GROUP BY c),
      |a2 AS (SELECT p, CAST(sum(h2) AS BIGINT) AS a2
      | FROM cp JOIN h2 USING (c) GROUP BY p),
      |hubs AS (SELECT 'hub' AS kind, c AS node,
      |  CAST(h1 AS BIGINT) AS score_r1, h2 AS score_r2
      | FROM h1 JOIN h2 USING (c) ORDER BY h2 DESC, c LIMIT 10),
      |auths AS (SELECT 'authority' AS kind, p AS node,
      |  a1 AS score_r1, a2 AS score_r2
      | FROM a1 JOIN a2 USING (p) ORDER BY a2 DESC, p LIMIT 10)
      |SELECT * FROM (SELECT * FROM hubs UNION ALL SELECT * FROM auths)
      |ORDER BY kind, score_r2 DESC, node""".stripMargin

  /** Multi-source weighted shortest paths by synchronous Bellman-Ford
    * relaxation — the weighted counterpart of q207's frontier BFS
    * (BFS explores by hop; relaxation must revisit settled nodes
    * because a longer-hop path can be CHEAPER, which is exactly what
    * the unioned min-fold expresses). Sources are the q207 hub set
    * (node ≡ 0 mod 97, "distance to nearest hub"); edge length =
    * cheapest combined price of a co-purchase in integer cents (the
    * q140 fixed-point device), so every distance is an exact int64
    * and the oracle replays the identical [[GraphRounds]]-round
    * recurrence as materialized CTEs.
    *
    * Scale: the edge list is hash-partitioned once on the join key
    * and persisted (the q198/q207 pattern); each round joins the
    * node-sized distance frame against that standing partitioning —
    * rounds add NO edge re-exchange — and the min-fold is map-side
    * combinable. Output is the per-node distance table capped to
    * nodes reached within k rounds (k-bounded relaxation is the
    * production form: it answers "cheapest within k legs" exactly,
    * and k rounds of it IS Bellman-Ford's loop body, so the full
    * algorithm is this op run |V|-1 times or to a fixpoint).
    */
  def q220SsspRelax(s: SparkSession, dir: String): DataFrame = {
    val li = lineitem(s, dir)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"),
        round(col("l_extendedprice") * 100).cast("long").as("cents"))
    // derive-in-kernel arm: below the cap, the wEdges derivation (the
    // gate's dominant cost — a corpus-scale self-join + groupBy) AND
    // the relaxation run in ONE task; the distributed derivation +
    // relaxDistances below is the 100 TB path, forceable via
    // graft.arms.forceDistributed (GraphSpec pins the arms equal).
    // Guarding rides IN the kernel (sentinel on overflow/null) — the
    // separate eligibility probe job cost a measured 0.6 s here.
    if (GraphLocal.maxEdges(s) > 0)
      GraphLocal.ssspCoPurchase(s, li, n => n % 97 == 0,
          GraphRounds) match {
        case Some(out) => return out
        case None =>
      }
    val wEdges = li.as("a")
      .join(li.as("b"), col("a.ok") === col("b.ok") &&
        col("a.pk") < col("b.pk"))
      .groupBy(col("a.pk").as("u"), col("b.pk").as("v"))
      .agg(min(col("a.cents") + col("b.cents")).as("w"))
    relaxDistances(s, wEdges,
      n => pmod(n, lit(97L)) === 0, n => n % 97 == 0, GraphRounds)
  }

  /** The k-round Bellman-Ford loop over an arbitrary undirected
    * weighted `(u, v, w)` edge list — factored so GraphSpec can pin
    * the defining relaxation property (a longer-hop path beating a
    * direct edge) on hand graphs. `seed`/`seedLocal` are the same
    * predicate in Column and Long form; below [[GraphLocal.maxEdges]]
    * the identical double-buffered synchronous relaxation runs as one
    * single-task job ([[GraphLocal.sssp]]).
    */
  private[graft] def relaxDistances(s: SparkSession, wEdges: DataFrame,
      seed: Column => Column, seedLocal: Long => Boolean,
      rounds: Int): DataFrame = {
    val localCap = GraphLocal.maxEdges(s)
    if (localCap > 0) {
      val e = wEdges.persist()
      if (GraphLocal.localArmEligible(e, localCap, Seq("u", "v", "w"))) {
        val out = GraphLocal.sssp(s, e, seedLocal, rounds).localCheckpoint()
        e.unpersist(false)
        return out
      }
      e.unpersist(false)
    }
    val parts = math.max(s.sparkContext.defaultParallelism, 8)
    val bidir = wEdges
      .select(col("u").as("src"), col("v").as("dst"), col("w"))
      .unionByName(
        wEdges.select(col("v").as("src"), col("u").as("dst"), col("w")))
      .repartition(parts, col("src"))
      .persist()
    try {
      var dist = bidir.select(col("src").as("node")).distinct()
        .filter(seed(col("node")))
        .withColumn("d", lit(0L))
      for (_ <- 1 to rounds) {
        val relax = dist.join(bidir, col("node") === col("src"))
          .select(col("dst").as("node"), (col("d") + col("w")).as("d"))
        // cut the round's lineage: dist appears twice per round (carry
        // + relax), so an uncut chain doubles the recomputation of
        // everything upstream each round — measured 13 s / 2.7 GB of
        // re-scans at sf0.1, 5.6 s / 0.37 GB with the cut (the q198
        // per-round checkpoint device)
        dist = dist.unionByName(relax)
          .groupBy("node").agg(min("d").as("d"))
          .localCheckpoint()
      }
      dist.select(col("node"), col("d").as("dist_cents"))
        .orderBy("node")
        .localCheckpoint()
    } finally bidir.unpersist()
  }

  val q220Oracle: String = {
    def relax(prev: String): String =
      s"""(SELECT node, min(d) AS d FROM (
        |  SELECT node, d FROM $prev UNION ALL
        |  SELECT b.dst, p.d + b.w FROM $prev p
        |    JOIN bidir b ON p.node = b.src) GROUP BY 1)""".stripMargin
    val rounds = (1 to GraphRounds).map { r =>
      s"d$r AS MATERIALIZED ${relax(s"d${r - 1}")}"
    }.mkString(",\n")
    s"""WITH li AS (SELECT l_orderkey AS ok, l_partkey AS pk,
      |  CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
      | FROM lineitem),
      |we AS (SELECT a.pk AS u, b.pk AS v,
      |  min(a.cents + b.cents) AS w
      | FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
      | GROUP BY 1, 2),
      |bidir AS MATERIALIZED (SELECT u AS src, v AS dst, w FROM we
      | UNION ALL SELECT v AS src, u AS dst, w FROM we),
      |d0 AS MATERIALIZED (SELECT DISTINCT src AS node,
      |  CAST(0 AS BIGINT) AS d
      | FROM bidir WHERE src % 97 = 0),
      |$rounds
      |SELECT node, CAST(d AS BIGINT) AS dist_cents FROM d$GraphRounds
      |ORDER BY node""".stripMargin
  }

  /** Autocorrelation function of the daily order-count series at lags
    * 1..7 — the seasonality probe run before fitting any forecaster
    * (q6/q201 consume exactly this kind of series). Exactness: with
    * S = Σc and n days, center in INTEGER space as y_t = n·c_t − S
    * (≡ n·(c_t − μ)), so r_k = Σ y_t·y_{t+k} / Σ y_t² has exact
    * integer numerator and denominator (DECIMAL(38,0) sums — y² can
    * pass int64 at large SF) and ONE double division, rounded to 6 dp.
    * ACF at lag k uses the standard biased estimator (denominator =
    * full-series sum of squares).
    *
    * Scale: the series is CALENDAR-BOUNDED (one row per day — ~2.4k
    * rows for the 7-year TPC-H span at any SF), so the indexing
    * window and the 7-lag self-join run on a metadata-sized frame;
    * the only corpus-sized work is the daily-count aggregate, which
    * is map-side combinable. The lag join explodes the ≤7 offsets
    * into an equi join (the q211 device), never a range predicate.
    */
  val AcfMaxLag = 7

  def q221Acf(s: SparkSession, dir: String): DataFrame = {
    val daily = orders(s, dir)
      .groupBy(date_trunc("day", col("o_orderdate")).as("day"))
      .agg(count(lit(1)).as("c"))
    val idx = daily.withColumn("t", row_number().over(
      org.apache.spark.sql.expressions.Window.orderBy("day")).cast("long"))
    val stats = idx.agg(count(lit(1)).as("n"), sum("c").as("sv"))
    val y = idx.crossJoin(broadcast(stats))
      .select(col("t"), col("n"),
        (col("n") * col("c") - col("sv")).as("y"))
    // cast BEFORE the multiply: y² can pass int64 at large SF, and a
    // long×long overflow happens silently before any output cast
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val denom = y.agg(sum(dec(col("y")) * dec(col("y"))).as("d0"))
    val probes = y.select(col("t"), col("y").as("y1"))
      .withColumn("k", explode(sequence(lit(1L), lit(AcfMaxLag.toLong))))
      .withColumn("t2", col("t") + col("k"))
    val lagged = probes.join(
        y.select(col("t").as("t2"), col("y").as("y2")), Seq("t2"))
      .groupBy("k")
      .agg(sum(dec(col("y1")) * dec(col("y2"))).as("num"),
        count(lit(1)).as("n_pairs"))
    lagged.crossJoin(broadcast(denom))
      .select(col("k").as("lag"), col("n_pairs"),
        round(col("num").cast("double") / col("d0").cast("double"), 6)
          .as("acf"))
      .orderBy("lag")
  }

  val q221Oracle: String =
    s"""WITH daily AS (SELECT date_trunc('day', o_orderdate) AS day,
      |  count(*) AS c FROM orders GROUP BY 1),
      |idx AS (SELECT c, CAST(row_number() OVER (ORDER BY day)
      |  AS BIGINT) AS t FROM daily),
      |st AS (SELECT count(*) AS n, sum(c) AS sv FROM idx),
      |y AS (SELECT t, CAST(n * c - sv AS BIGINT) AS y
      | FROM idx CROSS JOIN st),
      |den AS (SELECT CAST(sum(CAST(y AS DECIMAL(38,0))
      |    * CAST(y AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS d0 FROM y),
      |lagged AS (SELECT k.k, CAST(sum(CAST(a.y AS DECIMAL(38,0))
      |    * CAST(b.y AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS num,
      |  count(*) AS n_pairs
      | FROM (SELECT unnest(range(1, ${AcfMaxLag + 1})) AS k) k
      | JOIN y a ON true
      | JOIN y b ON b.t = a.t + k.k
      | GROUP BY k.k)
      |SELECT CAST(k AS BIGINT) AS lag, CAST(n_pairs AS BIGINT) AS n_pairs,
      |  round(CAST(num AS DOUBLE) / CAST(d0 AS DOUBLE), 6) AS acf
      |FROM lagged CROSS JOIN den
      |ORDER BY lag""".stripMargin

  /** Mann-Whitney U rank-sum test (Mann & Whitney 1947) — the
    * nonparametric two-sample drift test for CONTINUOUS features,
    * completing the drift suite next to TVD on categoricals (q134)
    * and χ² on counts (q151): do RETURNED line items price
    * differently from kept ones (returnflag R vs N)? Midranks are computed in
    * DOUBLED integer space (midrank×2 = 2·|smaller| + ties + 1), so
    * rank sums, the U statistic (doubled) and the tie correction
    * Σ(t³−t) are exact integers; the only floats are σ (one sqrt —
    * IEEE-correctly-rounded, hence bit-identical cross-engine, unlike
    * ln/exp/pow) and the z-score, computed through identically-stated
    * expressions and compared against 1.96 UNROUNDED.
    *
    * Scale: one map-side-combinable aggregate to the distinct-VALUE
    * table (t, t₁ per price) — which for a continuous feature like
    * price is ~the corpus size (97% distinct measured at sf0.1), so
    * the cumulative rank is the q73/q167 TWO-PHASE SHARDED prefix
    * sum: range-shard on x, per-shard subtotals (≤32 rows, driver-
    * folded into exclusive offsets, broadcast back), intra-shard
    * window PARTITIONED BY shard. No window in the plan is global —
    * nothing row-scale ever sorts on one task. One 1-row reduce
    * closes it; the raw sample is never sorted whole.
    */
  def q222MannWhitney(s: SparkSession, dir: String): DataFrame =
    mannWhitneyFrom(lineitem(s, dir)
      .filter(col("l_returnflag").isin("R", "N"))
      .select((col("l_returnflag") === "R").as("is_a"),
        col("l_extendedprice").as("x")))

  /** [[q222MannWhitney]] over an explicit `(is_a, x)` sample frame —
    * factored so FeatureSpec can pin the significant=true arm (the
    * gate's returned-vs-kept prices genuinely do not differ).
    */
  private[graft] def mannWhitneyFrom(sample: DataFrame): DataFrame = {
    // The distinct-value table feeds THREE actions (bounds probe,
    // shard subtotals, the ranked window pass); without
    // materialization each one re-runs the corpus scan + hash
    // aggregate — three full passes for a ~value-domain-sized result
    // (the q238/q228 shared-pass device). localCheckpoint computes it
    // once; everything downstream reads the checkpointed rows.
    val vals = sample.groupBy("x")
      .agg(count(lit(1)).as("t"),
        sum(when(col("is_a"), 1L).otherwise(0L)).as("t1"))
      .localCheckpoint()
    // Two-phase sharded exclusive prefix sum of t in x-order (the
    // q73/q167 device): a plain Window.orderBy("x") here would be a
    // single-task sort-and-scan of the whole ~97%-distinct value
    // table. Shard assignment is Spark-internal (never emitted), so
    // float range math is fine; the oracle keeps its plain window.
    val bounds = vals.agg(min("x"), max("x")).head()
    val (minX, maxX) =
      if (bounds.isNullAt(0)) (0.0, 1.0)
      else (bounds.getDouble(0), bounds.getDouble(1))
    val span = math.max(maxX - minX, java.lang.Double.MIN_NORMAL)
    val nShards = 32
    val sharded = vals.withColumn("shard",
      least(floor((col("x") - minX) / span * nShards), lit(nShards - 1L))
        .cast("int"))
    val subtotals = sharded.groupBy("shard").agg(sum("t").as("st"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    var acc = 0L
    val offsets = subtotals.map { case (sh, st) =>
      val off = acc; acc += st; (sh, off)
    }
    val spark = sample.sparkSession
    val offsetDf = spark.createDataFrame(offsets.toSeq).toDF("shard", "base")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("shard").orderBy("x")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val ranked = sharded
      .withColumn("intra", coalesce(sum("t").over(w), lit(0L)))
      .join(broadcast(offsetDf), Seq("shard"))
      .withColumn("l", col("base") + col("intra"))
      .withColumn("mr2", lit(2L) * col("l") + col("t") + lit(1L))
    val agg = ranked.agg(
      sum("t1").as("n1"), sum("t").as("n"),
      sum(dec(col("t1")) * dec(col("mr2"))).as("r1_2"),
      sum(dec(col("t")) * dec(col("t")) * dec(col("t")) - dec(col("t")))
        .as("tcorr"))
    agg.select(
        col("n1"), (col("n") - col("n1")).as("n2"),
        (col("r1_2") - dec(col("n1")) * dec(col("n1") + 1)).as("u2"),
        col("n"), col("tcorr"))
      .select(col("n1"), col("n2"),
        col("u2").cast("double").as("u_doubled"),
        (((col("u2").cast("double") / 2.0) -
          col("n1").cast("double") * col("n2").cast("double") / 2.0) /
          sqrt(col("n1").cast("double") * col("n2").cast("double") / 12.0 *
            ((col("n").cast("double") + 1.0) -
             col("tcorr").cast("double") /
               (col("n").cast("double") *
                (col("n").cast("double") - 1.0))))).as("z_raw"))
      .select(col("n1"), col("n2"), col("u_doubled"),
        round(col("z_raw"), 6).as("z"),
        (abs(col("z_raw")) > 1.96).as("significant"))
  }

  val q222Oracle: String =
    """WITH sample AS (SELECT l_returnflag = 'R' AS is_a,
      |  l_extendedprice AS x FROM lineitem
      | WHERE l_returnflag IN ('R', 'N')),
      |vals AS (SELECT x, count(*) AS t,
      |  sum(CASE WHEN is_a THEN 1 ELSE 0 END) AS t1
      | FROM sample GROUP BY x),
      |ranked AS (SELECT t, t1,
      |  coalesce(sum(t) OVER (ORDER BY x
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS l
      | FROM vals),
      |agg AS (SELECT CAST(sum(t1) AS BIGINT) AS n1,
      |  CAST(sum(t) AS BIGINT) AS n,
      |  sum(CAST(t1 AS DECIMAL(38,0))
      |    * CAST(2 * l + t + 1 AS DECIMAL(38,0))) AS r1_2,
      |  sum(CAST(t AS DECIMAL(38,0)) * CAST(t AS DECIMAL(38,0))
      |      * CAST(t AS DECIMAL(38,0)) - CAST(t AS DECIMAL(38,0)))
      |    AS tcorr
      | FROM ranked),
      |u AS (SELECT n1, n - n1 AS n2, n, tcorr,
      |  r1_2 - CAST(n1 AS DECIMAL(38,0)) * CAST(n1 + 1 AS DECIMAL(38,0))
      |    AS u2
      | FROM agg),
      |z AS (SELECT n1, n2, CAST(u2 AS DOUBLE) AS u_doubled,
      |  ((CAST(u2 AS DOUBLE) / 2.0)
      |    - CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 2.0)
      |  / sqrt(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 12.0
      |    * ((CAST(n AS DOUBLE) + 1.0)
      |       - CAST(tcorr AS DOUBLE)
      |         / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))))
      |    AS z_raw
      | FROM u)
      |SELECT n1, n2, u_doubled, round(z_raw, 6) AS z,
      |  abs(z_raw) > 1.96 AS significant
      |FROM z""".stripMargin

  /** Welch's unequal-variance t-test (q236) — the PARAMETRIC
    * two-sample drift test next to the rank-based U (q222): do
    * returned line items price differently in MEAN? Group moments
    * (n, Σx, Σx²) are exact DECIMAL(38,0) integer-cent sums
    * (cast-before-multiply — Σx² passes int64 at sf0.1 already);
    * the exact decimals then cast once to double and flow through ONE
    * identically-stated IEEE expression tree for means, variances,
    * t, and the Welch–Satterthwaite df (div/mul/sqrt are all
    * correctly-rounded → bit-identical cross-engine; only the final
    * reported t/df round to 6 dp, significance compares UNROUNDED).
    *
    * Scale: one map-side-combinable aggregate to 2 rows, one 1-row
    * fold. Nothing else moves.
    */
  def q236WelchT(s: SparkSession, dir: String): DataFrame =
    welchFrom(lineitem(s, dir)
      .filter(col("l_returnflag").isin("R", "N"))
      .select((col("l_returnflag") === "R").as("is_a"),
        round(col("l_extendedprice") * 100).cast("long").as("cents")))

  /** [[q236WelchT]] over an explicit `(is_a, cents)` frame — factored
    * so FeatureSpec can pin the significant arm.
    */
  private[graft] def welchFrom(sample: DataFrame): DataFrame = {
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val g = sample.groupBy("is_a").agg(
      count(lit(1)).as("n"),
      sum(dec(col("cents"))).as("sx"),
      sum(dec(col("cents")) * dec(col("cents"))).as("sxx"))
    val m = g.agg(
      max(when(col("is_a"), col("n"))).as("n1"),
      max(when(col("is_a"), col("sx"))).as("sx1"),
      max(when(col("is_a"), col("sxx"))).as("sxx1"),
      max(when(!col("is_a"), col("n"))).as("n2"),
      max(when(!col("is_a"), col("sx"))).as("sx2"),
      max(when(!col("is_a"), col("sxx"))).as("sxx2"))
    def d(name: String): Column = col(name).cast("double")
    val v1 = (d("n1") * d("sxx1") - d("sx1") * d("sx1")) /
      (d("n1") * (d("n1") - 1.0))
    val v2 = (d("n2") * d("sxx2") - d("sx2") * d("sx2")) /
      (d("n2") * (d("n2") - 1.0))
    val se2 = v1 / d("n1") + v2 / d("n2")
    val tRaw = (d("sx1") / d("n1") - d("sx2") / d("n2")) / sqrt(se2)
    val dfRaw = se2 * se2 /
      ((v1 / d("n1")) * (v1 / d("n1")) / (d("n1") - 1.0) +
        (v2 / d("n2")) * (v2 / d("n2")) / (d("n2") - 1.0))
    m.select(col("n1"), col("n2"),
      round(tRaw, 6).as("t"),
      round(dfRaw, 6).as("df"),
      (abs(tRaw) > 1.96).as("significant"))
  }

  val q236Oracle: String =
    """WITH sample AS (SELECT l_returnflag = 'R' AS is_a,
      |  CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
      | FROM lineitem WHERE l_returnflag IN ('R', 'N')),
      |g AS (SELECT is_a, count(*) AS n,
      |  sum(CAST(cents AS DECIMAL(38,0))) AS sx,
      |  sum(CAST(cents AS DECIMAL(38,0))
      |    * CAST(cents AS DECIMAL(38,0))) AS sxx
      | FROM sample GROUP BY is_a),
      |m AS (SELECT
      |  CAST(max(CASE WHEN is_a THEN n END) AS BIGINT) AS n1,
      |  max(CASE WHEN is_a THEN sx END) AS sx1,
      |  max(CASE WHEN is_a THEN sxx END) AS sxx1,
      |  CAST(max(CASE WHEN NOT is_a THEN n END) AS BIGINT) AS n2,
      |  max(CASE WHEN NOT is_a THEN sx END) AS sx2,
      |  max(CASE WHEN NOT is_a THEN sxx END) AS sxx2
      | FROM g),
      |v AS (SELECT n1, n2,
      |  (CAST(n1 AS DOUBLE) * CAST(sxx1 AS DOUBLE)
      |    - CAST(sx1 AS DOUBLE) * CAST(sx1 AS DOUBLE))
      |    / (CAST(n1 AS DOUBLE) * (CAST(n1 AS DOUBLE) - 1.0)) AS v1,
      |  (CAST(n2 AS DOUBLE) * CAST(sxx2 AS DOUBLE)
      |    - CAST(sx2 AS DOUBLE) * CAST(sx2 AS DOUBLE))
      |    / (CAST(n2 AS DOUBLE) * (CAST(n2 AS DOUBLE) - 1.0)) AS v2,
      |  CAST(sx1 AS DOUBLE) / CAST(n1 AS DOUBLE)
      |    - CAST(sx2 AS DOUBLE) / CAST(n2 AS DOUBLE) AS dm
      | FROM m),
      |t AS (SELECT n1, n2,
      |  dm / sqrt(v1 / CAST(n1 AS DOUBLE) + v2 / CAST(n2 AS DOUBLE))
      |    AS t_raw,
      |  (v1 / CAST(n1 AS DOUBLE) + v2 / CAST(n2 AS DOUBLE))
      |  * (v1 / CAST(n1 AS DOUBLE) + v2 / CAST(n2 AS DOUBLE))
      |  / ((v1 / CAST(n1 AS DOUBLE)) * (v1 / CAST(n1 AS DOUBLE))
      |       / (CAST(n1 AS DOUBLE) - 1.0)
      |     + (v2 / CAST(n2 AS DOUBLE)) * (v2 / CAST(n2 AS DOUBLE))
      |       / (CAST(n2 AS DOUBLE) - 1.0)) AS df_raw
      | FROM v)
      |SELECT n1, n2, round(t_raw, 6) AS t, round(df_raw, 6) AS df,
      |  abs(t_raw) > 1.96 AS significant
      |FROM t""".stripMargin

  /** Two-sample Kolmogorov–Smirnov test (q237) — the DISTRIBUTION-
    * shape drift test completing means (q236 Welch) and ranks (q222
    * U): D = sup|F_A − F_B| over the empirical CDFs. Exact: per
    * distinct value the inclusive cumulative counts (c_A, c_B) come
    * from the q222 two-phase SHARDED prefix sum (both sums in one
    * shard-partitioned window pass — no global window anywhere), and
    * the sup maximizes |c_A·n_B − c_B·n_A| in EXACT integer space
    * (≤ n² ≈ 3.6e17 at 600M rows/side — inside int64; emitted as the
    * scaled integer plus one double division rounded to 6 dp).
    * Significance vs the large-sample critical value
    * c(α=.05)·sqrt((n_A+n_B)/(n_A·n_B)), compared UNROUNDED (sqrt and
    * division are correctly-rounded IEEE).
    */
  def q237KsTest(s: SparkSession, dir: String): DataFrame =
    ksFrom(lineitem(s, dir)
      .filter(col("l_returnflag").isin("R", "N"))
      .select((col("l_returnflag") === "R").as("is_a"),
        col("l_extendedprice").as("x")))

  private[graft] def ksFrom(sample: DataFrame): DataFrame = {
    // one corpus pass for three consumers — see mannWhitneyFrom
    val vals = sample.groupBy("x").agg(
      sum(when(col("is_a"), 1L).otherwise(0L)).as("ta"),
      sum(when(col("is_a"), 0L).otherwise(1L)).as("tb"))
      .localCheckpoint()
    val bounds = vals.agg(min("x"), max("x")).head()
    val (minX, maxX) =
      if (bounds.isNullAt(0)) (0.0, 1.0)
      else (bounds.getDouble(0), bounds.getDouble(1))
    val span = math.max(maxX - minX, java.lang.Double.MIN_NORMAL)
    val nShards = 32
    val sharded = vals.withColumn("shard",
      least(floor((col("x") - minX) / span * nShards), lit(nShards - 1L))
        .cast("int"))
    val subtotals = sharded.groupBy("shard")
      .agg(sum("ta").as("sa"), sum("tb").as("sb"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    var accA = 0L; var accB = 0L
    val offsets = subtotals.map { case (sh, sa, sb) =>
      val r = (sh, accA, accB); accA += sa; accB += sb; r
    }
    val (nA, nB) = (accA, accB)
    val spark = sample.sparkSession
    val offsetDf = spark.createDataFrame(offsets.toSeq)
      .toDF("shard", "base_a", "base_b")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("shard").orderBy("x")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val d = sharded
      .withColumn("ia", sum("ta").over(w))
      .withColumn("ib", sum("tb").over(w))
      .join(broadcast(offsetDf), Seq("shard"))
      .select(abs((col("base_a") + col("ia")) * nB -
        (col("base_b") + col("ib")) * nA).as("d_scaled"))
      .agg(max("d_scaled").as("d_scaled"))
    d.select(lit(nA).as("n_a"), lit(nB).as("n_b"), col("d_scaled"),
        (col("d_scaled").cast("double") /
          (lit(nA).cast("double") * lit(nB).cast("double"))).as("d_raw"))
      .select(col("n_a"), col("n_b"), col("d_scaled"),
        round(col("d_raw"), 6).as("d"),
        (col("d_raw") > lit(1.358) *
          sqrt((lit(nA).cast("double") + lit(nB).cast("double")) /
            (lit(nA).cast("double") * lit(nB).cast("double"))))
          .as("significant"))
  }

  val q237Oracle: String =
    """WITH sample AS (SELECT l_returnflag = 'R' AS is_a,
      |  l_extendedprice AS x FROM lineitem
      | WHERE l_returnflag IN ('R', 'N')),
      |vals AS (SELECT x,
      |  sum(CASE WHEN is_a THEN 1 ELSE 0 END) AS ta,
      |  sum(CASE WHEN is_a THEN 0 ELSE 1 END) AS tb
      | FROM sample GROUP BY x),
      |tot AS (SELECT CAST(sum(ta) AS BIGINT) AS na,
      |  CAST(sum(tb) AS BIGINT) AS nb FROM vals),
      |cum AS (SELECT
      |  CAST(sum(ta) OVER (ORDER BY x
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |    AS ca,
      |  CAST(sum(tb) OVER (ORDER BY x
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |    AS cb
      | FROM vals),
      |d AS (SELECT CAST(max(abs(ca * nb - cb * na)) AS BIGINT)
      |    AS d_scaled
      | FROM cum CROSS JOIN tot)
      |SELECT na AS n_a, nb AS n_b, d_scaled,
      |  round(CAST(d_scaled AS DOUBLE)
      |    / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)), 6) AS d,
      |  CAST(d_scaled AS DOUBLE)
      |    / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE))
      |  > 1.358 * sqrt((CAST(na AS DOUBLE) + CAST(nb AS DOUBLE))
      |      / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE))) AS significant
      |FROM d CROSS JOIN tot""".stripMargin

  /** Cramér's V (q242) — the NORMALIZED effect size over the q151
    * chi-square: V = sqrt(χ² / (N·(min(r,c)−1))) in [0,1], the number
    * a feature-selection pass actually thresholds on (raw χ² grows
    * with N; V doesn't). Same one-scan contingency shape as q151;
    * per-cell χ² contributions round to 6 dp and DECIMAL-quantize
    * before the order-independent total, then one sqrt (correctly
    * rounded IEEE) and a 6-dp final round.
    */
  def q242CramersV(s: SparkSession, dir: String): DataFrame = {
    val cells = orders(s, dir)
      .groupBy("o_orderpriority", "o_orderstatus")
      .agg(count(lit(1)).as("obs"))
      .localCheckpoint()
    val rowTot = cells.groupBy("o_orderpriority")
      .agg(sum("obs").as("row_tot"))
    val colTot = cells.groupBy("o_orderstatus")
      .agg(sum("obs").as("col_tot"))
    val dims = cells.agg(sum("obs").as("n_total"),
      countDistinct("o_orderpriority").as("r"),
      countDistinct("o_orderstatus").as("c"))
    cells
      .join(broadcast(rowTot), "o_orderpriority")
      .join(broadcast(colTot), "o_orderstatus")
      .crossJoin(broadcast(dims))
      .select(col("n_total"), col("r"), col("c"),
        round((col("obs") - col("row_tot").cast("double") * col("col_tot")
            / col("n_total")) *
          (col("obs") - col("row_tot").cast("double") * col("col_tot")
            / col("n_total")) /
          (col("row_tot").cast("double") * col("col_tot") / col("n_total")),
          6).cast("decimal(18,6)").as("contrib"))
      .groupBy("n_total", "r", "c")
      .agg(sum("contrib").as("chi2_d"))
      .select(col("n_total"), col("r"), col("c"),
        col("chi2_d").cast("double").as("chi2"),
        round(sqrt(col("chi2_d").cast("double") /
          (col("n_total").cast("double") *
            (least(col("r"), col("c")).cast("double") - 1.0))), 6)
          .as("cramers_v"))
  }

  val q242Oracle: String =
    """WITH cells AS (SELECT o_orderpriority, o_orderstatus,
      |  count(*) AS obs FROM orders GROUP BY 1, 2),
      |rt AS (SELECT o_orderpriority, sum(obs) AS row_tot
      |  FROM cells GROUP BY 1),
      |ct AS (SELECT o_orderstatus, sum(obs) AS col_tot
      |  FROM cells GROUP BY 1),
      |d AS (SELECT CAST(sum(obs) AS BIGINT) AS n_total,
      |  CAST(count(DISTINCT o_orderpriority) AS BIGINT) AS r,
      |  CAST(count(DISTINCT o_orderstatus) AS BIGINT) AS c FROM cells),
      |j AS (SELECT n_total, r, c,
      |  CAST(round((obs - CAST(row_tot AS DOUBLE) * col_tot / n_total)
      |    * (obs - CAST(row_tot AS DOUBLE) * col_tot / n_total)
      |    / (CAST(row_tot AS DOUBLE) * col_tot / n_total), 6)
      |    AS DECIMAL(18,6)) AS contrib
      | FROM cells JOIN rt USING (o_orderpriority)
      |   JOIN ct USING (o_orderstatus) CROSS JOIN d)
      |SELECT n_total, r, c, CAST(sum(contrib) AS DOUBLE) AS chi2,
      |  round(sqrt(CAST(sum(contrib) AS DOUBLE)
      |    / (CAST(n_total AS DOUBLE)
      |       * (CAST(least(r, c) AS DOUBLE) - 1.0))), 6) AS cramers_v
      |FROM j GROUP BY n_total, r, c""".stripMargin

  /** Jensen-Shannon divergence (q243) between the language
    * distributions of two source cohorts — the symmetric, bounded
    * [0, ln 2] distribution-drift measure a corpus-mixing pipeline
    * monitors when a new crawl lands. Cohorts: numeric source suffix
    * < 8 vs ≥ 8 (both populated at every SF). Zero-count languages
    * contribute 0 on their side by the 0·ln0 = 0 convention (the
    * `when(p > 0, …)` arm — no smoothing distortion). Each ln term
    * rounds to 6 dp and DECIMAL-quantizes before the order-
    * independent sum (the q191 libm device).
    *
    * Scale: one map-side-combinable (cohort × lang) aggregate — the
    * frame is vocabulary-of-langs sized, everything after is
    * metadata arithmetic.
    */
  def q243Jsd(s: SparkSession, dir: String): DataFrame = {
    val cohort = when(
      expr("try_cast(substring(source, 4, 10) AS int)") < 8, "a")
      .otherwise("b")
    val cells = documents(s, dir)
      .groupBy(cohort.as("g"), col("lang"))
      .agg(count(lit(1)).as("n"))
      .localCheckpoint()
    val tot = cells.groupBy("g").agg(sum("n").as("t"))
    val byLang = cells.join(broadcast(tot), "g")
      .select(col("lang"), col("g"),
        (col("n").cast("double") / col("t")).as("p"))
      .groupBy("lang")
      .agg(max(when(col("g") === "a", col("p"))).as("pa"),
        max(when(col("g") === "b", col("p"))).as("pb"))
      .select(col("lang"),
        coalesce(col("pa"), lit(0.0)).as("pa"),
        coalesce(col("pb"), lit(0.0)).as("pb"))
    byLang
      .select(col("lang"), col("pa"), col("pb"),
        (when(col("pa") > 0,
          col("pa") * log(col("pa") / ((col("pa") + col("pb")) / 2.0)))
          .otherwise(lit(0.0)) / 2.0 +
         when(col("pb") > 0,
           col("pb") * log(col("pb") / ((col("pa") + col("pb")) / 2.0)))
           .otherwise(lit(0.0)) / 2.0).as("term"))
      .agg(sum(round(col("term"), 6).cast("decimal(18,6)")).as("jsd_d"),
        count(lit(1)).as("n_langs"))
      .select(col("n_langs"), col("jsd_d").cast("double").as("jsd"))
  }

  val q243Oracle: String =
    """WITH cells AS (SELECT
      |  CASE WHEN TRY_CAST(substr(source, 4) AS INT) < 8
      |       THEN 'a' ELSE 'b' END AS g,
      |  lang, count(*) AS n
      | FROM documents GROUP BY 1, 2),
      |tot AS (SELECT g, sum(n) AS t FROM cells GROUP BY g),
      |p AS (SELECT lang,
      |  coalesce(max(CASE WHEN g = 'a'
      |    THEN CAST(n AS DOUBLE) / t END), 0.0) AS pa,
      |  coalesce(max(CASE WHEN g = 'b'
      |    THEN CAST(n AS DOUBLE) / t END), 0.0) AS pb
      | FROM cells JOIN tot USING (g) GROUP BY lang)
      |SELECT count(*) AS n_langs,
      |  CAST(sum(CAST(round(
      |    CASE WHEN pa > 0
      |      THEN pa * ln(pa / ((pa + pb) / 2.0)) ELSE 0.0 END / 2.0
      |    + CASE WHEN pb > 0
      |      THEN pb * ln(pb / ((pa + pb) / 2.0)) ELSE 0.0 END / 2.0,
      |    6) AS DECIMAL(18,6))) AS DOUBLE) AS jsd
      |FROM p""".stripMargin

  /** CUSUM drift detector (q244) over the daily order-count series —
    * Page's cumulative-sum chart, the change-point monitor that beats
    * per-point thresholds on SLOW drifts. Recursion eliminated: with
    * P_t the prefix of centered counts, S_t = P_t − min_{j≤t} P_j —
    * a prefix sum plus a running min, both windows over the
    * CALENDAR-BOUNDED daily frame (the q221 class, never data-sized).
    * Centering is exact: q221's integer device (D·x_t − Σx per day, so
    * the prefix is exact int64 and P_D = 0 by construction); the flag
    * compares S_t against 3σ·D with σ from exact integer moments —
    * sqrt and the one division are correctly-rounded IEEE, compared
    * UNROUNDED.
    */
  def q244Cusum(s: SparkSession, dir: String): DataFrame = {
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val daily = orders(s, dir).groupBy(col("o_orderdate").as("day"))
      .agg(count(lit(1)).as("x"))
      .localCheckpoint()
    val m = daily.agg(count(lit(1)).as("d"), sum("x").as("sx"),
      sum(dec(col("x")) * dec(col("x"))).as("sxx"))
    val wp = org.apache.spark.sql.expressions.Window.orderBy("day")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    daily.crossJoin(broadcast(m))
      .withColumn("p", sum(col("d") * col("x") - col("sx")).over(wp))
      .withColumn("minp", least(min("p").over(wp), lit(0L)))
      .select(col("day"), col("x"),
        (col("p") - col("minp")).as("s_scaled"),
        round((col("p") - col("minp")).cast("double") /
          col("d").cast("double"), 6).as("cusum"),
        ((col("p") - col("minp")).cast("double") / col("d").cast("double")
          > lit(3.0) * sqrt((col("d").cast("double") *
              col("sxx").cast("double") -
              col("sx").cast("double") * col("sx").cast("double")) /
            (col("d").cast("double") * (col("d").cast("double") - 1.0))))
          .as("drifted"))
      .orderBy("day")
  }

  val q244Oracle: String =
    """WITH daily AS (SELECT o_orderdate AS day, count(*) AS x
      |  FROM orders GROUP BY 1),
      |m AS (SELECT CAST(count(*) AS BIGINT) AS d,
      |  CAST(sum(x) AS BIGINT) AS sx,
      |  sum(CAST(x AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0))) AS sxx
      | FROM daily),
      |pp AS (SELECT day, x, d, sx, sxx,
      |  CAST(sum(d * x - sx) OVER (ORDER BY day
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |    AS p
      | FROM daily CROSS JOIN m),
      |s AS (SELECT day, x, d, sx, sxx, p,
      |  least(CAST(min(p) OVER (ORDER BY day
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT),
      |    0) AS minp
      | FROM pp)
      |SELECT day, x, p - minp AS s_scaled,
      |  round(CAST(p - minp AS DOUBLE) / d, 6) AS cusum,
      |  CAST(p - minp AS DOUBLE) / d
      |    > 3.0 * sqrt((CAST(d AS DOUBLE) * CAST(sxx AS DOUBLE)
      |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
      |      / (CAST(d AS DOUBLE) * (CAST(d AS DOUBLE) - 1.0)))
      |    AS drifted
      |FROM s ORDER BY day""".stripMargin

  /** Mutual information (q245) between document language and source —
    * the dependence measure feature selection and mix design use when
    * χ²'s significance framing is the wrong question ("how many BITS
    * does source tell me about language"). Per-cell terms
    * (n_xy/N)·ln(N·n_xy/(n_x·n_y)), each rounded to 6 dp and
    * DECIMAL-quantized (the q191 device; empty cells contribute 0 by
    * convention and are simply absent from the grouped frame).
    * One corpus scan to the |langs|×|sources| cell table; marginals
    * re-aggregate from the CELLS.
    */
  def q245MutualInfo(s: SparkSession, dir: String): DataFrame = {
    val cells = documents(s, dir)
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("n"))
      .localCheckpoint()
    val rowTot = cells.groupBy("lang").agg(sum("n").as("nx"))
    val colTot = cells.groupBy("source").agg(sum("n").as("ny"))
    val tot = cells.agg(sum("n").as("nn"))
    cells
      .join(broadcast(rowTot), "lang")
      .join(broadcast(colTot), "source")
      .crossJoin(broadcast(tot))
      .select(col("lang"), col("source"), col("n"),
        round((col("n").cast("double") / col("nn")) *
          log(col("nn").cast("double") * col("n") /
            (col("nx").cast("double") * col("ny"))), 6)
          .cast("decimal(18,6)").as("term"))
      .groupBy(lit(1).as("k"))
      .agg(count(lit(1)).as("n_cells"),
        sum("term").as("mi_d"))
      .select(col("n_cells"), col("mi_d").cast("double").as("mi_nats"))
  }

  val q245Oracle: String =
    """WITH cells AS (SELECT lang, source, count(*) AS n
      |  FROM documents GROUP BY 1, 2),
      |rt AS (SELECT lang, sum(n) AS nx FROM cells GROUP BY 1),
      |ct AS (SELECT source, sum(n) AS ny FROM cells GROUP BY 1),
      |t AS (SELECT sum(n) AS nn FROM cells)
      |SELECT count(*) AS n_cells,
      |  CAST(sum(CAST(round((CAST(n AS DOUBLE) / nn)
      |    * ln(CAST(nn AS DOUBLE) * n / (CAST(nx AS DOUBLE) * ny)), 6)
      |    AS DECIMAL(18,6))) AS DOUBLE) AS mi_nats
      |FROM cells JOIN rt USING (lang) JOIN ct USING (source)
      |CROSS JOIN t""".stripMargin

  /** Spearman rank correlation (q238) — the monotone-dependence
    * measure between quantity and price per line item: Pearson on
    * MIDRANKS, tie-correct by construction. Exactness: both rank
    * tables carry DOUBLED midranks (2l+t+1 — exact integers, the q222
    * device); quantity's ranks come from its ≤50-value integer domain
    * (a bounded-domain window, the q165/q197 class), price's from the
    * two-phase SHARDED prefix sum (97% distinct — never one task);
    * all five moments are exact DECIMAL(38,0) sums, the covariance /
    * variance combinations stay exact in decimal, and ONE final
    * double expression (two correctly-rounded sqrts, one division)
    * rounds to 6 dp.
    *
    * Scale: one narrow scan to both rank tables (one tiny, one
    * sharded), one co-partitioned join-back keyed on price, one
    * map-side-combinable moment aggregate.
    */
  def q238Spearman(s: SparkSession, dir: String): DataFrame =
    spearmanOver(s, lineitem(s, dir)
      .select(col("l_quantity").as("q"), col("l_extendedprice").as("x")))

  /** Row ceiling of [[spearmanOver]]'s single-task arm. */
  val SpearmanLocalMaxRows = 4000000L

  /** [[q238Spearman]] over an explicit `(q: double, x: double)` frame —
    * factored so SpearmanSpec can pin the in-task arm against the
    * distributed arm on constructed tie patterns.
    */
  private[graft] def spearmanOver(s: SparkSession, rows0: DataFrame): DataFrame = {
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    // Ranks are defined over KNOWN values (the q239 device): a null on
    // either side has no rank, and both engines drop such rows at the
    // rank joins anyway — the filter just makes that explicit before
    // the aggregate instead of implicit inside it.
    val rows = rows0.filter(col("q").isNotNull && col("x").isNotNull)
    // Size-based arm switch (the q216/GraphLocal device, VERDICT r13
    // #1a): below the cap the whole rank+moment recurrence runs in ONE
    // task over RAW (q, x) rows — exact int64 accumulation with a
    // checked-overflow escape to BigInt, final double rounding through
    // Spark's own Decimal/Round paths, so the arms agree bit-for-bit
    // (SpearmanSpec pins them; `graft.arms.forceDistributed` forces
    // the distributed arm — the 100 TB path). The whole arm is ONE
    // job: parallel per-partition (q, x) array packs through a
    // 1-partition exchange (the GraphLocal device — a coalesce(1)
    // tuple feed was measured at +0.7 s of single-task cache decode).
    // No groupBy(q, x) pre-histogram in this arm: x is ~97% distinct,
    // so the histogram compresses nothing and its hash exchange moved
    // every row individually; the kernel's sort handles multiplicity
    // through equal-key runs (t = 1 per row). Guarded by an IN-KERNEL
    // row sentinel (each pack truncates past
    // the cap and flags; the kernel answers a sentinel row and the
    // gate falls back) plus a projected-scan-stats pre-gate so a
    // corpus that cannot fit never even packs.
    val localCap = graft.GraftSession.localCap(s, SpearmanLocalMaxRows)
    val estBytes = rows0.queryExecution.optimizedPlan.stats.sizeInBytes
    if (localCap > 0 && estBytes <= BigInt(localCap) * 32) {
      import s.implicits._
      val out = rows.select(col("q"), col("x")).as[(Double, Double)]
        .mapPartitions { it =>
          // primitive doubling arrays — an ArrayBuffer[Double] boxes
          // every element (measured at ~2x the pack stage); values go
          // straight to IEEE-order-preserving bits, and each pack
          // SORTS its slice by x here, in parallel, so the one-task
          // kernel is a k-way merge instead of a global sort (the
          // serial 600k-element sort was the kernel's dominant cost)
          var qb = new Array[Long](1024)
          var xb = new Array[Long](1024)
          var n = 0
          var over = false
          while (it.hasNext && !over) {
            val (q, x) = it.next()
            if (n >= localCap) over = true
            else {
              if (n == qb.length) {
                qb = java.util.Arrays.copyOf(qb, n * 2)
                xb = java.util.Arrays.copyOf(xb, n * 2)
              }
              qb(n) = sortableBits(q); xb(n) = sortableBits(x); n += 1
            }
          }
          val xk = java.util.Arrays.copyOf(xb, n)
          val qk = java.util.Arrays.copyOf(qb, n)
          sortPair(xk, qk)
          Iterator.single((xk, qk, over))
        }
        .repartition(1)
        .mapPartitions { ps =>
          var m = 0L
          var over = false
          val parts = ps.toArray
          parts.foreach { p => m += p._1.length; over ||= p._3 }
          if (over || m > localCap)
            Iterator.single((Some(-1L), Option.empty[Double])) // sentinel
          else
            Iterator.single(spearmanMerge(parts.map(_._1), parts.map(_._2)))
        }
        .toDF("n", "rho")
        .localCheckpoint()
      val head = out.limit(1).collect()
      val isSentinel = head.nonEmpty && !head(0).isNullAt(0) &&
        head(0).getLong(0) == -1L
      if (!isSentinel) return out
      // sentinel: fall through to the distributed arm below
    }
    // distributed arm: ONE corpus pass builds the joint (q, x) value
    // histogram; both rank tables and all five Pearson-on-midranks
    // moments regroup exactly over it (decimal sums of exact
    // integers), so the row-level table is never touched again — r13
    // killed the row-level join-back on x; the histogram feeds three
    // consumers (rank build, shard subtotals, final moments), persist
    // it once
    val cached = rows.groupBy("q", "x").agg(count(lit(1)).as("t"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // quantity midranks: bounded integer domain, plain window
    val wq = org.apache.spark.sql.expressions.Window.orderBy("q")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val rankQ = cached.groupBy("q").agg(sum("t").as("tq"))
      .withColumn("l", coalesce(sum("tq").over(wq), lit(0L)))
      .select(col("q"), (lit(2L) * col("l") + col("tq") + 1L).as("rq2"))
    // price midranks: sharded two-phase prefix (the q222 device).
    // The quantity-rank moments fold into this SAME per-price
    // aggregate (t, Σrq2, Σrq2² per x), so the row-level join-back on
    // x — a full exchange + sort-merge of every line item — never
    // happens: every final moment is expressible from the value-level
    // table + rx2, exactly (decimal sums of exact integers).
    val vals = cached.join(broadcast(rankQ), Seq("q"))
      .groupBy("x").agg(sum(col("t")).as("t"),
        sum(dec(col("t")) * dec(col("rq2"))).as("sq"),
        sum(dec(col("t")) * dec(col("rq2")) * dec(col("rq2"))).as("sqq"))
    val bounds = vals.agg(min("x"), max("x")).head()
    val (minX, maxX) =
      if (bounds.isNullAt(0)) (0.0, 1.0)
      else (bounds.getDouble(0), bounds.getDouble(1))
    val span = math.max(maxX - minX, java.lang.Double.MIN_NORMAL)
    val nShards = 32
    val sharded = vals.withColumn("shard",
      least(floor((col("x") - minX) / span * nShards), lit(nShards - 1L))
        .cast("int"))
    val subtotals = sharded.groupBy("shard").agg(sum("t").as("st"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    var acc = 0L
    val offsets = subtotals.map { case (sh, st) =>
      val off = acc; acc += st; (sh, off)
    }
    val offsetDf = s.createDataFrame(offsets.toSeq).toDF("shard", "base")
    val wx = org.apache.spark.sql.expressions.Window
      .partitionBy("shard").orderBy("x")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val rankX = sharded
      .withColumn("intra", coalesce(sum("t").over(wx), lit(0L)))
      .join(broadcast(offsetDf), Seq("shard"))
      .select(col("x"), col("t"), col("sq"), col("sqq"),
        (lit(2L) * (col("base") + col("intra")) + col("t") + 1L).as("rx2"))
    // per-row sums regroup exactly over the per-value table:
    // Σ_rows rx2·rq2 = Σ_x rx2 · (Σ rq2 at x), etc.
    val m = rankX
      .agg(sum(col("t")).as("n"),
        sum(dec(col("t")) * dec(col("rx2"))).as("sa"),
        sum(col("sq")).as("sb"),
        sum(dec(col("rx2")) * col("sq")).as("sab"),
        sum(dec(col("t")) * dec(col("rx2")) * dec(col("rx2"))).as("saa"),
        sum(col("sqq")).as("sbb"))
    m.select(col("n"),
        (dec(col("n")) * col("sab") - col("sa") * col("sb")).as("num"),
        (dec(col("n")) * col("saa") - col("sa") * col("sa")).as("da"),
        (dec(col("n")) * col("sbb") - col("sb") * col("sb")).as("db"))
      .select(col("n"),
        // degenerate guard (zero variance on either side): the ANSI
        // division would raise; the kernel's double arithmetic yields
        // NaN — pin both arms to NaN (unreachable on the gate feed,
        // where both variances are positive)
        when(col("da") === 0 || col("db") === 0, lit(Double.NaN))
          .otherwise(round(col("num").cast("double") /
            (sqrt(col("da").cast("double")) * sqrt(col("db").cast("double"))),
            6)).as("rho"))
  }

  /** IEEE-order-preserving long transform: SIGNED comparison of the
    * transformed bits == Spark's total double order (NaN greatest,
    * canonical bits, -0.0 < 0.0). Positives keep their bit pattern
    * (already ascending, NaN's canonical 0x7ff8… on top); negatives
    * flip every bit but the sign, which keeps them below and reverses
    * their magnitude order. (The previous `~b / b ^ MinValue` form
    * ordered for UNSIGNED comparison — it put every negative above
    * every positive under the kernel's signed sorts; SpearmanSpec's
    * mixed-sign tie pattern caught it.) +0.0 maps to 0L, which the
    * primitive maps handle via their zero-key slot.
    */
  @inline private def sortableBits(d: Double): Long = {
    val b = java.lang.Double.doubleToLongBits(d)
    b ^ ((b >> 63) & 0x7fffffffffffffffL)
  }

  /** Tandem primitive quicksort of (k, p) by k — the boxed
    * `sortBy(Ordering.Double)` paid ~2/3 of this kernel's time in
    * comparator boxing (measured, RunOne job split).
    */
  private[ops] def sortPair(k: Array[Long], p: Array[Long]): Unit = {
    def swap(i: Int, j: Int): Unit = {
      val tk = k(i); k(i) = k(j); k(j) = tk
      val tp = p(i); p(i) = p(j); p(j) = tp
    }
    def qs(lo: Int, hi: Int): Unit = {
      if (hi - lo < 32) {
        var i = lo + 1
        while (i <= hi) {
          val kk = k(i); val pp = p(i)
          var j = i - 1
          while (j >= lo && k(j) > kk) {
            k(j + 1) = k(j); p(j + 1) = p(j); j -= 1
          }
          k(j + 1) = kk; p(j + 1) = pp
          i += 1
        }
      } else {
        val mid = lo + ((hi - lo) >>> 1)
        if (k(mid) < k(lo)) swap(mid, lo)
        if (k(hi) < k(lo)) swap(hi, lo)
        if (k(hi) < k(mid)) swap(hi, mid)
        val piv = k(mid)
        var i = lo; var j = hi
        while (i <= j) {
          while (k(i) < piv) i += 1
          while (k(j) > piv) j -= 1
          if (i <= j) { swap(i, j); i += 1; j -= 1 }
        }
        if (j - lo < hi - i) { qs(lo, j); qs(i, hi) }
        else { qs(i, hi); qs(lo, j) }
      }
    }
    if (k.length > 1) qs(0, k.length - 1)
  }

  /** Single-task Spearman merge kernel over per-pack x-SORTED
    * (xbits, qbits) runs (t = 1 per row — raw line items, not a
    * histogram). The packs arrive already sorted by x, so this task
    * only k-way merges them (binary heap of pack heads) and folds the
    * five Pearson-on-midranks moments in one pass. Exactness mirrors
    * the distributed arm operation for operation: midranks are
    * DOUBLED exact integers (2l+t+1), the moments accumulate in
    * checked int64 (`Math.*Exact` raises on the first overflow and
    * the whole merge re-runs in BigInt, still exact), the n·sab−sa·sb
    * combinations always form in BigInt, and the two final double
    * conversions ride Spark's own `Decimal.toDouble` /
    * `Round(HALF_UP, 6)` code paths so the arms cannot diverge by a
    * ulp. Empty input yields the distributed arm's empty-aggregate
    * row (null n, null rho).
    */
  private[ops] def spearmanMerge(xks: Array[Array[Long]],
      qks: Array[Array[Long]]): (Option[Long], Option[Double]) = {
    var mTot = 0L
    xks.foreach(a => mTot += a.length)
    if (mTot == 0L) return (None, None)
    // quantity midranks: per-q totals (tiny domain), ranks ascending
    val qTot = new GraphLocal.LongLongMap(1 << 10)
    var p = 0
    while (p < qks.length) {
      val a = qks(p)
      var i = 0
      while (i < a.length) { qTot.addTo(a(i), 1L); i += 1 }
      p += 1
    }
    val dqk = new Array[Long](qTot.size)
    var nq = 0
    qTot.foreachEntry((k, _) => { dqk(nq) = k; nq += 1 })
    java.util.Arrays.sort(dqk)
    val rq2 = new GraphLocal.LongLongMap(math.max(dqk.length, 16))
    var lq = 0L
    var i = 0
    while (i < dqk.length) {
      val t = qTot.getOrElse(dqk(i), 0L)
      rq2.put(dqk(i), 2L * lq + t + 1L)
      lq += t
      i += 1
    }
    // binary min-heap of pack heads (key = current x, payload = pack)
    val np = xks.length
    val heapK = new Array[Long](np)
    val heapP = new Array[Int](np)
    val cur = new Array[Int](np)
    var hs = 0
    def siftDown(): Unit = {
      var i = 0
      while (true) {
        val l = 2 * i + 1
        if (l >= hs) return
        var c = l
        if (l + 1 < hs && heapK(l + 1) < heapK(l)) c = l + 1
        if (heapK(c) >= heapK(i)) return
        val tk = heapK(i); heapK(i) = heapK(c); heapK(c) = tk
        val tp = heapP(i); heapP(i) = heapP(c); heapP(c) = tp
        i = c
      }
    }
    def initHeap(): Unit = {
      hs = 0
      var pk = 0
      while (pk < np) {
        cur(pk) = 0
        if (xks(pk).length > 0) {
          // sift up
          var i = hs
          heapK(i) = xks(pk)(0); heapP(i) = pk; hs += 1
          while (i > 0 && heapK((i - 1) / 2) > heapK(i)) {
            val par = (i - 1) / 2
            val tk = heapK(i); heapK(i) = heapK(par); heapK(par) = tk
            val tp = heapP(i); heapP(i) = heapP(par); heapP(par) = tp
            i = par
          }
        }
        pk += 1
      }
    }
    // pop the heap min's q, advance that pack (replace-top + sift)
    def popQ(): Long = {
      val pk = heapP(0)
      val q = qks(pk)(cur(pk))
      cur(pk) += 1
      if (cur(pk) < xks(pk).length) heapK(0) = xks(pk)(cur(pk))
      else {
        hs -= 1
        heapK(0) = heapK(hs); heapP(0) = heapP(hs)
      }
      siftDown()
      q
    }
    // one merge+fold pass; runs in checked int64 unless big = true
    var runQ = new Array[Long](64)
    def fold(big: Boolean): (Long, BigInt, BigInt, BigInt, BigInt, BigInt) = {
      initHeap()
      var n = 0L
      var sa = 0L; var sb = 0L; var sab = 0L; var saa = 0L; var sbb = 0L
      var ba = BigInt(0); var bb = BigInt(0); var bab = BigInt(0)
      var baa = BigInt(0); var bbb = BigInt(0)
      while (hs > 0) {
        // collect one equal-x run
        val x = heapK(0)
        var tx = 0
        while (hs > 0 && heapK(0) == x) {
          if (tx == runQ.length)
            runQ = java.util.Arrays.copyOf(runQ, tx * 2)
          runQ(tx) = popQ()
          tx += 1
        }
        val rx2 = 2L * n + tx + 1L
        if (big) {
          val brx = BigInt(rx2)
          ba += brx * tx
          baa += brx * brx * tx
          var j = 0
          while (j < tx) {
            val rq = BigInt(rq2.getOrElse(runQ(j), 0L))
            bb += rq
            bab += brx * rq
            bbb += rq * rq
            j += 1
          }
        } else {
          sa = Math.addExact(sa, Math.multiplyExact(rx2, tx.toLong))
          saa = Math.addExact(saa,
            Math.multiplyExact(Math.multiplyExact(rx2, rx2), tx.toLong))
          var j = 0
          while (j < tx) {
            val rq = rq2.getOrElse(runQ(j), 0L)
            sb = Math.addExact(sb, rq)
            sab = Math.addExact(sab, Math.multiplyExact(rx2, rq))
            sbb = Math.addExact(sbb, Math.multiplyExact(rq, rq))
            j += 1
          }
        }
        n += tx
      }
      if (big) (n, ba, bb, bab, baa, bbb)
      else (n, BigInt(sa), BigInt(sb), BigInt(sab), BigInt(saa), BigInt(sbb))
    }
    val (n, sa, sb, sab, saa, sbb) =
      try fold(big = false)
      catch { case _: ArithmeticException => fold(big = true) }
    val num = BigInt(n) * sab - sa * sb
    val da = BigInt(n) * saa - sa * sa
    val db = BigInt(n) * sbb - sb * sb
    // double conversion and rounding through Spark's own paths: the
    // distributed arm casts DECIMAL(38,0) → double (Decimal.toDouble)
    // and rounds with Round(HALF_UP, 6)
    def toD(v: BigInt): Double =
      org.apache.spark.sql.types.Decimal(scala.math.BigDecimal(v)).toDouble
    val rho = toD(num) / (math.sqrt(toD(da)) * math.sqrt(toD(db)))
    val rounded =
      if (rho.isNaN || rho.isInfinite) rho
      else java.math.BigDecimal.valueOf(rho)
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    (Some(n), Some(rounded))
  }

  val q238Oracle: String =
    """WITH rows_ AS (SELECT l_quantity AS q, l_extendedprice AS x
      |  FROM lineitem),
      |rq AS (SELECT q, 2 * coalesce(sum(count(*)) OVER (ORDER BY q
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |    + count(*) + 1 AS rq2
      | FROM rows_ GROUP BY q),
      |rx AS (SELECT x, 2 * coalesce(sum(count(*)) OVER (ORDER BY x
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |    + count(*) + 1 AS rx2
      | FROM rows_ GROUP BY x),
      |j AS (SELECT CAST(rx2 AS DECIMAL(38,0)) AS a,
      |  CAST(rq2 AS DECIMAL(38,0)) AS b
      | FROM rows_ JOIN rq USING (q) JOIN rx USING (x)),
      |m AS (SELECT CAST(count(*) AS DECIMAL(38,0)) AS n,
      |  sum(a) AS sa, sum(b) AS sb, sum(a * b) AS sab,
      |  sum(a * a) AS saa, sum(b * b) AS sbb FROM j)
      |SELECT CAST(n AS BIGINT) AS n,
      |  round(CAST(n * sab - sa * sb AS DOUBLE)
      |    / (sqrt(CAST(n * saa - sa * sa AS DOUBLE))
      |       * sqrt(CAST(n * sbb - sb * sb AS DOUBLE))), 6) AS rho
      |FROM m""".stripMargin

  /** Gini coefficient per order priority (q239) — the inequality
    * measure data-curation uses to quantify how concentrated spend /
    * token mass is within a stratum: G = Σᵢ(2i−n−1)xᵢ / (nΣx) over
    * the ascending sort. Exact: tie blocks contribute
    * cents·t·(2l+t−n) (the within-block coefficient sum is
    * order-invariant), prefix positions l come from the SHARDED
    * prefix sum partitioned per (priority, shard) — per-group offsets
    * fold from a ≤ groups×shards driver list — and the single double
    * division rounds to 6 dp. One narrow scan, one shard-partitioned
    * window, one group aggregate.
    */
  def q239Gini(s: SparkSession, dir: String): DataFrame = {
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val o = orders(s, dir).select(col("o_orderpriority").as("prio"),
      round(col("o_totalprice") * 100).cast("long").as("cents"))
      // Gini is defined over KNOWN values; a null amount has no rank
      // (and would null the shard key)
      .filter(col("cents").isNotNull)
    // one corpus pass for three consumers — see mannWhitneyFrom; the
    // bounds probe reads the checkpointed value table (groupBy
    // preserves the key set, so min/max over vals == min/max over o)
    val vals = o.groupBy("prio", "cents").agg(count(lit(1)).as("t"))
      .localCheckpoint()
    val bounds = vals.agg(min("cents"), max("cents")).head()
    val (minC, maxC) =
      if (bounds.isNullAt(0)) (0L, 1L)
      else (bounds.getLong(0), bounds.getLong(1))
    val span = math.max(1L, maxC - minC + 1)
    val nShards = 32
    val sharded = vals.withColumn("shard",
      ((col("cents") - minC) * nShards / span).cast("int"))
    val subtotals = sharded.groupBy("prio", "shard")
      .agg(sum("t").as("st"))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
    // group first (null-safe), order shards within each group — a
    // global sort would compareTo a null group key
    val offsets = subtotals.groupBy(_._1).toSeq.flatMap {
      case (prio, shards) =>
        var acc = 0L
        shards.sortBy(_._2).map { case (_, sh, st) =>
          val off = acc; acc += st; (prio, sh, off)
        }
    }
    val offsetDf = s.createDataFrame(offsets).toDF("prio", "shard", "base")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("prio", "shard").orderBy("cents")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    sharded
      .withColumn("intra", coalesce(sum("t").over(w), lit(0L)))
      .join(broadcast(offsetDf), Seq("prio", "shard"))
      .withColumn("l", col("base") + col("intra"))
      .groupBy("prio")
      .agg(sum("t").as("n"), sum(dec(col("cents")) * dec(col("t"))).as("sx"),
        sum(dec(col("cents")) * dec(col("t")) *
          (lit(2L) * dec(col("l")) + dec(col("t")))).as("s2lt"))
      // Σ cents·t·(2l+t−n) = s2lt − n·sx, assembled exactly in decimal
      .select(col("prio"), col("n"),
        col("sx").cast("long").as("total_cents"),
        round((col("s2lt") - dec(col("n")) * col("sx")).cast("double") /
          (dec(col("n")) * col("sx")).cast("double"), 6).as("gini"))
      .orderBy("prio")
  }

  val q239Oracle: String =
    """WITH o AS (SELECT o_orderpriority AS prio,
      |  CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      | FROM orders WHERE o_totalprice IS NOT NULL),
      |vals AS (SELECT prio, cents, count(*) AS t FROM o
      | GROUP BY prio, cents),
      |ranked AS (SELECT prio, cents, t,
      |  coalesce(sum(t) OVER (PARTITION BY prio ORDER BY cents
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS l
      | FROM vals),
      |g AS (SELECT prio, CAST(sum(t) AS BIGINT) AS n,
      |  sum(CAST(cents AS DECIMAL(38,0)) * CAST(t AS DECIMAL(38,0)))
      |    AS sx,
      |  sum(CAST(cents AS DECIMAL(38,0)) * CAST(t AS DECIMAL(38,0))
      |    * (2 * CAST(l AS DECIMAL(38,0)) + CAST(t AS DECIMAL(38,0))))
      |    AS s2lt
      | FROM ranked GROUP BY prio)
      |SELECT prio, n, CAST(sx AS BIGINT) AS total_cents,
      |  round(CAST(s2lt - CAST(n AS DECIMAL(38,0)) * sx AS DOUBLE)
      |    / CAST(CAST(n AS DECIMAL(38,0)) * sx AS DOUBLE), 6) AS gini
      |FROM g ORDER BY prio""".stripMargin

  /** Population stability index (the credit-scoring industry's
    * standard drift monitor, alongside TVD q134 / χ² q151 / U q222):
    * PSI = Σ_bins (p_A − p_B)·ln(p_A/p_B) between the value
    * distribution of the first half of January and the rest, over 20
    * equi-width bins (global [min, max] from a 1-row broadcast, the
    * q129/q103 device) with add-1 bin smoothing so empty-on-one-side
    * bins stay finite. Each bin's term is one identically-stated
    * double expression rounded to 6 dp and DECIMAL-quantized before
    * the total sum (order-independent; the single ln per bin is the
    * q142-class transcendental). Output = per-bin rows + a TOTAL row
    * (bin = −1); PSI > 0.2 is the conventional "investigate" bar,
    * reported as a flag on the total (per-bin rows flag their own
    * term against the same bar — a single hot bin is itself a red
    * flag).
    */
  val PsiBins = 20

  def q229Psi(s: SparkSession, dir: String): DataFrame = {
    val e = events(s, dir)
      .select(col("value").cast("double").as("v"),
        (col("ts").cast("timestamp") <
          lit("2024-01-15").cast("timestamp")).as("is_a"))
      .filter(col("v").isNotNull)
    val r = e.agg(min("v").as("mn"), max("v").as("mx"))
    val binned = e.crossJoin(broadcast(r))
      .withColumn("bin",
        least(floor((col("v") - col("mn")) /
          ((col("mx") - col("mn")) / lit(PsiBins.toDouble))),
          lit(PsiBins - 1.0)).cast("long"))
    val counts = binned.groupBy("bin")
      .agg(sum(when(col("is_a"), 1L).otherwise(0L)).as("na"),
        sum(when(col("is_a"), 0L).otherwise(1L)).as("nb"))
    val tot = counts.agg(sum("na").as("ta"), sum("nb").as("tb"))
    def p(n: Column, t: Column): Column =
      (n.cast("double") + 1.0) / (t.cast("double") + lit(PsiBins.toDouble))
    val per = counts.crossJoin(broadcast(tot))
      .withColumn("term",
        round((p(col("na"), col("ta")) - p(col("nb"), col("tb"))) *
          log(p(col("na"), col("ta")) / p(col("nb"), col("tb"))), 6)
          .cast("decimal(12,6)"))
    val total = per.agg(sum("na").as("na"), sum("nb").as("nb"),
        sum("term").as("t"))
      .select(lit(-1L).as("bin"), col("na"), col("nb"),
        col("t").cast("double").as("psi_term"),
        (col("t") > 0.2).as("drift_flag"))
    per.select(col("bin"), col("na"), col("nb"),
        col("term").cast("double").as("psi_term"),
        (col("term") > 0.2).as("drift_flag"))
      .unionByName(total)
      .orderBy("bin")
  }

  val q229Oracle: String =
    s"""WITH e AS (SELECT CAST(value AS DOUBLE) AS v,
      |  ts < TIMESTAMP '2024-01-15 00:00:00' AS is_a
      | FROM events WHERE value IS NOT NULL),
      |r AS (SELECT min(v) AS mn, max(v) AS mx FROM e),
      |binned AS (SELECT CAST(least(floor((v - mn)
      |    / ((mx - mn) / CAST($PsiBins AS DOUBLE))),
      |    CAST(${PsiBins - 1} AS DOUBLE)) AS BIGINT) AS bin, is_a
      | FROM e CROSS JOIN r),
      |counts AS (SELECT bin,
      |  CAST(sum(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT) AS na,
      |  CAST(sum(CASE WHEN is_a THEN 0 ELSE 1 END) AS BIGINT) AS nb
      | FROM binned GROUP BY bin),
      |tot AS (SELECT CAST(sum(na) AS BIGINT) AS ta,
      |  CAST(sum(nb) AS BIGINT) AS tb FROM counts),
      |per AS (SELECT bin, na, nb,
      |  CAST(round(
      |    ((CAST(na AS DOUBLE) + 1.0) / (CAST(ta AS DOUBLE) + CAST($PsiBins AS DOUBLE))
      |     - (CAST(nb AS DOUBLE) + 1.0) / (CAST(tb AS DOUBLE) + CAST($PsiBins AS DOUBLE)))
      |    * ln(((CAST(na AS DOUBLE) + 1.0) / (CAST(ta AS DOUBLE) + CAST($PsiBins AS DOUBLE)))
      |      / ((CAST(nb AS DOUBLE) + 1.0) / (CAST(tb AS DOUBLE) + CAST($PsiBins AS DOUBLE)))),
      |    6) AS DECIMAL(12,6)) AS term
      | FROM counts CROSS JOIN tot)
      |SELECT * FROM (
      |SELECT bin, na, nb, CAST(term AS DOUBLE) AS psi_term,
      |  term > 0.2 AS drift_flag
      |FROM per
      |UNION ALL
      |SELECT CAST(-1 AS BIGINT), CAST(sum(na) AS BIGINT),
      |  CAST(sum(nb) AS BIGINT), CAST(sum(term) AS DOUBLE),
      |  sum(term) > 0.2
      |FROM per)
      |ORDER BY bin""".stripMargin

  /** PageRank on a LARGE graph — q146 proves the integer-exact
    * recurrence on the 25-node nation graph; this runs the same
    * device (rank mass in 10¹² micro-units, per-edge shares in 10⁶
    * units via integer DIV, damping r·17 div 20, teleport
    * scale·15 div (100·n) — every step integer, both engines
    * truncate identically) on the ~20k-node WEIGHTED co-purchase
    * graph for [[GraphRounds]] rounds, weights = co-order counts.
    *
    * Scale: shares are a per-src window over each node's own
    * neighbor list (degree-bounded partitions); the edge list with
    * shares is hash-partitioned once on the join key and persisted,
    * so each round is one node-sized rank frame joined against the
    * standing partitioning + a map-side-combinable inflow sum — the
    * q198/q207/q220 standing-partition round shape. No dangling-mass
    * term: the bidirected graph has no sinks by construction.
    * Output: top 20 by rank (distributed TakeOrdered), ties → node.
    */
  def q230PagerankParts(s: SparkSession, dir: String): DataFrame = {
    val ew = coPurchaseEdgesWeighted(s, dir)
    // size-based arm switch (the q198 pattern): below the cap the
    // identical fixed-point integer recurrence runs as ONE single-task
    // job instead of GraphRounds × (join + agg + checkpoint) whose
    // scheduling dominates at gate scale; above it the
    // standing-partition loop below is the 100 TB path
    val localCap = GraphLocal.maxEdges(s)
    if (localCap > 0) {
      val e = ew.persist()
      if (GraphLocal.localArmEligible(e, localCap, Seq("u", "v", "w"))) {
        val out = GraphLocal.pagerank(s, e, GraphRounds)
          .orderBy(col("pr_scaled").desc, col("part")).localCheckpoint()
        e.unpersist(false)
        return out
      }
      e.unpersist(false)
    }
    val parts = math.max(s.sparkContext.defaultParallelism, 8)
    val edges = ew.select(col("u").as("src"), col("v").as("dst"), col("w"))
      .unionByName(ew.select(col("v").as("src"), col("u").as("dst"),
        col("w")))
      .withColumn("share", expr(
        "(w * 1000000L) div sum(w) OVER (PARTITION BY src)"))
      .select("src", "dst", "share")
      .repartition(parts, col("src"))
      .persist()
    try {
      val nodes = edges.select(col("src").as("node")).distinct()
        .localCheckpoint()
      val n = nodes.count()
      // an empty graph has no ranks (and no teleport denominator)
      if (n == 0L)
        return nodes.select(col("node").as("part"),
          col("node").as("pr_scaled"))
      val scale = 1000000000000L
      val teleport = scale * 15L / (100L * n)
      var ranks = nodes.select(col("node"), lit(scale / n).as("r"))
      for (_ <- 1 to GraphRounds) {
        val contrib = edges
          .join(ranks.withColumnRenamed("node", "src"), "src")
          .select(col("dst"),
            expr("(r * 17L div 20L) * share div 1000000L").as("c"))
          .groupBy("dst").agg(sum("c").as("inflow"))
        ranks = nodes
          .join(contrib, col("node") === col("dst"), "left")
          .select(col("node"),
            (lit(teleport) + coalesce(col("inflow"), lit(0L))).as("r"))
          .localCheckpoint()
      }
      ranks.orderBy(col("r").desc, col("node")).limit(20)
        .select(col("node").as("part"), col("r").as("pr_scaled"))
        .orderBy(col("pr_scaled").desc, col("part"))
    } finally edges.unpersist()
  }

  val q230Oracle: String = {
    def round(prev: String): String =
      s"""(SELECT nn.node, CAST((1000000000000 * 15) // (100 * n.n)
        |    + coalesce(sum(($prev.r * 17 // 20) * e.share // 1000000),
        |        0) AS BIGINT) AS r
        |  FROM nodes nn CROSS JOIN n
        |  LEFT JOIN edges e ON e.dst = nn.node
        |  LEFT JOIN $prev ON $prev.node = e.src
        |  GROUP BY nn.node, n.n)""".stripMargin
    val rounds = (1 to GraphRounds).map { i =>
      s"p$i AS MATERIALIZED ${round(s"p${i - 1}")}"
    }.mkString(",\n")
    s"""WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
      |    FROM lineitem),
      |ew AS (SELECT a.pk AS u, b.pk AS v, count(*) AS w
      |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
      |  GROUP BY 1, 2 HAVING count(*) >= $CoEdgeMinOrders),
      |bidir AS (SELECT u AS src, v AS dst, w FROM ew
      |  UNION ALL SELECT v, u, w FROM ew),
      |edges AS MATERIALIZED (SELECT src, dst,
      |  (w * 1000000) // sum(w) OVER (PARTITION BY src) AS share
      | FROM bidir),
      |nodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM edges),
      |n AS (SELECT count(*) AS n FROM nodes),
      |p0 AS MATERIALIZED (SELECT node,
      |  CAST(1000000000000 // n.n AS BIGINT) AS r
      | FROM nodes CROSS JOIN n),
      |$rounds
      |SELECT node AS part, r AS pr_scaled
      |FROM p$GraphRounds
      |ORDER BY pr_scaled DESC, part LIMIT 20""".stripMargin
  }

  /** Poisson-bootstrap confidence intervals (Chamandy, Muralidharan,
    * Najmi & Naidu, "Estimating uncertainty for massive data streams",
    * Google 2012): the at-scale bootstrap — instead of B full
    * resamples, each row gets an independent Poisson(1) WEIGHT per
    * replicate, so all B=32 replicates compute in ONE pass with a
    * (group, replicate) aggregate. Weights are deterministic: two md5
    * hex chars of (row key : replicate) inverted through the
    * Poisson(1) CDF as LITERAL thresholds (94/188/235/251/255 of 256
    * ≈ e⁻¹ cum masses — the q191 literal-constant device), so both
    * engines draw the identical "randomness". CI = the 2nd and 31st
    * order statistics of the replicate means (≈ 3%/97% percentile
    * bootstrap), exact integer cents until one rounded division per
    * replicate. Per l_returnflag group.
    */
  val BootReps = 32

  def q231PoissonBootstrap(s: SparkSession, dir: String): DataFrame = {
    val li = lineitem(s, dir)
      .select(col("l_returnflag").as("flag"),
        col("l_orderkey"), col("l_linenumber"),
        round(col("l_extendedprice") * 100).cast("long").as("cents"))
      .filter(col("cents").isNotNull)
    val point = li.groupBy("flag")
      .agg(count(lit(1)).as("n_rows"),
        round(sum("cents").cast("double") / count(lit(1)), 6)
          .as("mean_cents"))
    val reps = li
      .withColumn("b",
        explode(sequence(lit(0L), lit(BootReps - 1L))))
      .withColumn("hx", substring(md5(concat(
        col("l_orderkey").cast("string"), lit(":"),
        col("l_linenumber").cast("string"), lit(":"),
        col("b").cast("string")).cast("binary")), 1, 2))
      .withColumn("w",
        when(col("hx") < "5e", 0L).when(col("hx") < "bc", 1L)
          .when(col("hx") < "eb", 2L).when(col("hx") < "fb", 3L)
          .when(col("hx") < "ff", 4L).otherwise(5L))
    val means = reps.groupBy("flag", "b")
      .agg(sum(col("w") * col("cents")).as("sw"), sum("w").as("ww"))
      .select(col("flag"), col("b"),
        round(col("sw").cast("double") / col("ww").cast("double"), 6)
          .as("m"))
    val rw = Window.partitionBy("flag").orderBy(col("m"), col("b"))
    val ci = means.withColumn("rn", row_number().over(rw))
      .groupBy("flag")
      .agg(max(when(col("rn") === 2, col("m"))).as("ci_lo"),
        max(when(col("rn") === BootReps - 1, col("m"))).as("ci_hi"))
    point.join(ci, "flag")
      .select(col("flag"), col("n_rows"), col("mean_cents"),
        col("ci_lo"), col("ci_hi"))
      .orderBy("flag")
  }

  val q231Oracle: String =
    s"""WITH li AS (SELECT l_returnflag AS flag, l_orderkey,
      |  l_linenumber,
      |  CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
      | FROM lineitem WHERE l_extendedprice IS NOT NULL),
      |pt AS (SELECT flag, count(*) AS n_rows,
      |  round(CAST(sum(cents) AS DOUBLE) / count(*), 6) AS mean_cents
      | FROM li GROUP BY flag),
      |reps AS (SELECT flag, cents,
      |  substr(md5(CAST(l_orderkey AS VARCHAR) || ':'
      |    || CAST(l_linenumber AS VARCHAR) || ':'
      |    || CAST(b AS VARCHAR)), 1, 2) AS hx, b
      | FROM li CROSS JOIN (SELECT unnest(range(0, $BootReps)) AS b)),
      |wts AS (SELECT flag, b, cents,
      |  CASE WHEN hx < '5e' THEN 0 WHEN hx < 'bc' THEN 1
      |       WHEN hx < 'eb' THEN 2 WHEN hx < 'fb' THEN 3
      |       WHEN hx < 'ff' THEN 4 ELSE 5 END AS w
      | FROM reps),
      |means AS (SELECT flag, b,
      |  round(CAST(sum(w * cents) AS DOUBLE)
      |    / CAST(sum(w) AS DOUBLE), 6) AS m
      | FROM wts GROUP BY flag, b),
      |ranked AS (SELECT flag, m, row_number() OVER (PARTITION BY flag
      |    ORDER BY m, b) AS rn FROM means),
      |ci AS (SELECT flag,
      |  max(CASE WHEN rn = 2 THEN m END) AS ci_lo,
      |  max(CASE WHEN rn = ${BootReps - 1} THEN m END) AS ci_hi
      | FROM ranked GROUP BY flag)
      |SELECT flag, n_rows, mean_cents, ci_lo, ci_hi
      |FROM pt JOIN ci USING (flag)
      |ORDER BY flag""".stripMargin

  /** Kendall τ-b (q251) between the daily order count and the daily
    * revenue — the rank-correlation robustness check next to Spearman
    * (q238): τ counts CONCORDANT vs DISCORDANT pairs, so it is exact
    * in integer space end to end (no midranks, no moments). The pair
    * frame is CALENDAR-BOUNDED (days², never rows²): ~2.4k days →
    * ~2.9M pairs at any corpus size — the q221/q244 class, where the
    * corpus-sized work is one map-side-combinable daily aggregate and
    * everything downstream is fixed-size. Tie corrections are the
    * standard τ-b denominator √((n₀−n₁)(n₀−n₂)); the product stays
    * under 2^53 (pairs² ≈ 8.4e12), so the one sqrt + division are
    * correctly-rounded IEEE, rounded to 6 dp on both engines. An
    * all-tied margin (zero denominator) yields NULL explicitly.
    */
  def q251KendallTau(s: SparkSession, dir: String): DataFrame = {
    val daily = orders(s, dir).groupBy(col("o_orderdate").as("day"))
      .agg(count(lit(1)).as("x"),
        sum(round(col("o_totalprice") * 100).cast("long")).as("y"))
      .localCheckpoint()
    // day < day is a bounded nested-loop over the broadcast daily
    // frame — intentional: the frame is calendar-sized, not data-sized
    val p = daily.as("a").join(broadcast(daily.as("b")),
      col("a.day") < col("b.day"))
    val agg = p.agg(
      count(lit(1)).as("n0"),
      sum(when((col("a.x") < col("b.x") && col("a.y") < col("b.y")) ||
               (col("a.x") > col("b.x") && col("a.y") > col("b.y")),
        1L).otherwise(0L)).as("c"),
      sum(when((col("a.x") < col("b.x") && col("a.y") > col("b.y")) ||
               (col("a.x") > col("b.x") && col("a.y") < col("b.y")),
        1L).otherwise(0L)).as("d"),
      sum(when(col("a.x") === col("b.x"), 1L).otherwise(0L)).as("tx"),
      sum(when(col("a.y") === col("b.y"), 1L).otherwise(0L)).as("ty"))
    agg.select(col("n0"),
      col("c").as("concordant"), col("d").as("discordant"),
      when((col("n0") - col("tx")) * (col("n0") - col("ty")) > 0L,
        round((col("c") - col("d")).cast("double") /
          sqrt(((col("n0") - col("tx")) *
            (col("n0") - col("ty"))).cast("double")), 6))
        .as("tau_b"))
  }

  val q251Oracle: String =
    """WITH daily AS (SELECT o_orderdate AS day,
      |  CAST(count(*) AS BIGINT) AS x,
      |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |    AS y
      | FROM orders GROUP BY 1),
      |p AS (SELECT CAST(count(*) AS BIGINT) AS n0,
      |  CAST(sum(CASE WHEN (a.x < b.x AND a.y < b.y)
      |    OR (a.x > b.x AND a.y > b.y) THEN 1 ELSE 0 END) AS BIGINT) AS c,
      |  CAST(sum(CASE WHEN (a.x < b.x AND a.y > b.y)
      |    OR (a.x > b.x AND a.y < b.y) THEN 1 ELSE 0 END) AS BIGINT) AS d,
      |  CAST(sum(CASE WHEN a.x = b.x THEN 1 ELSE 0 END) AS BIGINT) AS tx,
      |  CAST(sum(CASE WHEN a.y = b.y THEN 1 ELSE 0 END) AS BIGINT) AS ty
      | FROM daily a JOIN daily b ON a.day < b.day)
      |SELECT n0, c AS concordant, d AS discordant,
      |  CASE WHEN (n0 - tx) * (n0 - ty) > 0
      |    THEN round(CAST(c - d AS DOUBLE)
      |      / sqrt(CAST((n0 - tx) * (n0 - ty) AS DOUBLE)), 6)
      |  END AS tau_b
      |FROM p""".stripMargin

  /** Mood's median test (q252) — the nonparametric k-sample location
    * test that needs only counts above/below the GRAND median, the
    * robust cousin of ANOVA when distributions are heavy-tailed. The
    * median comes from the BOUNDED value domain (l_quantity ∈ 1..50):
    * a ≤50-row histogram fixes it exactly as the smallest value whose
    * cumulative count reaches ⌈N/2⌉ — defined identically in both
    * engines, no percentile-function semantics to disagree about.
    * Each group's (above, ≤) split against margins gives the χ²;
    * expected counts n_g·A/N are exact-integer products under 2^53
    * before one correctly-rounded division, per-group terms rounded
    * to 6 dp and DECIMAL-quantized before the order-independent sum.
    * χ² vs the df=2 critical value 5.991.
    */
  /** Robust location/dispersion suite (q285) — median, MAD,
    * 5%-winsorized mean, 5%-trimmed mean of order quantities, all
    * EXACT from one bounded-domain value histogram (the q252
    * machinery: l_quantity lives on ≤50 integer values, so the
    * histogram is ≤50 rows of driver state at ANY corpus size and
    * every order statistic is an exact integer — no percentile
    * interpolation semantics to disagree about between engines).
    * Lower-median convention (position ⌈n/2⌉) throughout; trimming is
    * COUNT-based (⌊n/20⌋ from each end, partial buckets taken
    * exactly); winsorizing is VALUE-based at the P5/P95 order
    * statistics. The robust row completes the stats family: q236/q256
    * compare means, q252 locations, q257 effect sizes — this is the
    * outlier-immune summary a data-quality dashboard actually prints.
    */
  def q285RobustStats(s: SparkSession, dir: String): DataFrame = {
    val hist = lineitem(s, dir)
      .filter(col("l_quantity").isNotNull) // nulls carry no location
      .select(col("l_quantity").cast("long").as("q"))
      .groupBy("q").agg(count(lit(1)).as("n"))
      .orderBy("q").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val nt = hist.map(_._2).sum
    val st = hist.map { case (q, n) => q * n }.sum
    def atPos(h: Seq[(Long, Long)], pos: Long): Long = {
      var acc = 0L; var res = 0L; var found = false
      h.foreach { case (q, n) =>
        acc += n
        if (!found && acc >= pos) { res = q; found = true }
      }
      res
    }
    val median = atPos(hist, (nt + 1) / 2)
    val madHist = hist.groupBy { case (q, _) => math.abs(q - median) }
      .view.mapValues(_.map(_._2).sum).toSeq.sortBy(_._1)
    val mad = atPos(madHist, (nt + 1) / 2)
    val lo = atPos(hist, (nt * 5 + 99) / 100)
    val hi = atPos(hist, (nt * 95 + 99) / 100)
    val winsSum = hist.map { case (q, n) =>
      math.max(lo, math.min(hi, q)) * n }.sum
    val k = nt / 20
    var cum = 0L
    val lowSum = hist.map { case (q, n) =>
      cum += n
      q * math.min(n, math.max(0L, k - (cum - n)))
    }.sum
    cum = 0L
    val highSum = hist.map { case (q, n) =>
      cum += n
      q * math.min(n, math.max(0L, k - (nt - cum)))
    }.sum
    import s.implicits._
    // rounding through the PLAN's round() so both engines apply their
    // established (gate-proven matching) rounding to the same double
    Seq((nt, median, mad, lo, hi,
      winsSum.toDouble / nt,
      (st - lowSum - highSum).toDouble / (nt - 2 * k)))
      .toDF("n_rows", "median", "mad", "p5", "p95",
        "winsor_mean", "trimmed_mean")
      .select(col("n_rows"), col("median"), col("mad"), col("p5"),
        col("p95"), round(col("winsor_mean"), 6).as("winsor_mean"),
        round(col("trimmed_mean"), 6).as("trimmed_mean"))
  }

  val q285Oracle: String =
    """WITH v AS (SELECT CAST(l_quantity AS BIGINT) AS q FROM lineitem
      |  WHERE l_quantity IS NOT NULL),
      |h AS (SELECT q, CAST(count(*) AS BIGINT) AS n FROM v GROUP BY q),
      |tot AS (SELECT CAST(sum(n) AS BIGINT) AS nt,
      |  CAST(sum(q * n) AS BIGINT) AS st FROM h),
      |c AS (SELECT q, n,
      |  CAST(sum(n) OVER (ORDER BY q) AS BIGINT) AS cum FROM h),
      |med AS (SELECT min(q) AS m FROM c
      |  WHERE cum >= (SELECT (nt + 1) // 2 FROM tot)),
      |ha AS (SELECT abs(q - (SELECT m FROM med)) AS a,
      |  CAST(sum(n) AS BIGINT) AS n FROM h GROUP BY 1),
      |ca AS (SELECT a, n,
      |  CAST(sum(n) OVER (ORDER BY a) AS BIGINT) AS cum FROM ha),
      |mad AS (SELECT min(a) AS mad FROM ca
      |  WHERE cum >= (SELECT (nt + 1) // 2 FROM tot)),
      |p5 AS (SELECT min(q) AS lo FROM c
      |  WHERE cum >= (SELECT (nt * 5 + 99) // 100 FROM tot)),
      |p95 AS (SELECT min(q) AS hi FROM c
      |  WHERE cum >= (SELECT (nt * 95 + 99) // 100 FROM tot)),
      |wins AS (SELECT CAST(sum(
      |    greatest((SELECT lo FROM p5),
      |      least((SELECT hi FROM p95), q)) * n) AS BIGINT) AS ws
      |  FROM h),
      |kk AS (SELECT nt // 20 AS k FROM tot),
      |lows AS (SELECT CAST(sum(q * least(n,
      |    greatest(0, (SELECT k FROM kk) - (cum - n)))) AS BIGINT)
      |  AS lowsum FROM c),
      |highs AS (SELECT CAST(sum(q * least(n,
      |    greatest(0, (SELECT k FROM kk) -
      |      ((SELECT nt FROM tot) - cum)))) AS BIGINT)
      |  AS highsum FROM c)
      |SELECT (SELECT nt FROM tot) AS n_rows,
      |  (SELECT m FROM med) AS median,
      |  (SELECT mad FROM mad) AS mad,
      |  (SELECT lo FROM p5) AS p5,
      |  (SELECT hi FROM p95) AS p95,
      |  round(CAST((SELECT ws FROM wins) AS DOUBLE) /
      |    (SELECT nt FROM tot), 6) AS winsor_mean,
      |  round(CAST((SELECT st FROM tot) - (SELECT lowsum FROM lows) -
      |      (SELECT highsum FROM highs) AS DOUBLE) /
      |    ((SELECT nt FROM tot) - 2 * (SELECT k FROM kk)), 6)
      |    AS trimmed_mean""".stripMargin

  def q252MoodMedian(s: SparkSession, dir: String): DataFrame =
    moodMedianFrom(lineitem(s, dir)
      .select(col("l_returnflag").as("flag"),
        col("l_quantity").cast("long").as("qty")))

  /** [[q252MoodMedian]] over an explicit `(flag, qty)` frame —
    * factored so FeatureSpec can pin the SIGNIFICANT arm on a
    * shifted synthetic sample (the gate data's uniform quantities are
    * honestly non-significant at every SF).
    */
  private[graft] def moodMedianFrom(sample: DataFrame): DataFrame = {
    // null observations carry no rank information — excluded on both
    // sides (and the driver median fold must never see a null cell)
    val qtyCounts = sample.filter(col("qty").isNotNull)
      .groupBy("flag", "qty")
      .agg(count(lit(1)).as("n"))
      .localCheckpoint() // ≤ flags × bounded value domain
    // grand median from the ≤50-row value histogram — bounded driver
    // state (the per-shard-subtotal class)
    val hist = qtyCounts.groupBy("qty").agg(sum("n").as("n"))
      .orderBy("qty").collect()
    val nTotal = hist.map(_.getLong(1)).sum
    val medianPos = (nTotal + 1) / 2
    var acc = 0L
    val median = hist.iterator.map { r =>
      acc += r.getLong(1); (r.getLong(0), acc)
    }.collectFirst { case (q, cum) if cum >= medianPos => q }
      .getOrElse(0L)
    val g = qtyCounts.groupBy("flag").agg(
      sum("n").as("n_g"),
      sum(when(col("qty") > median, col("n")).otherwise(0L)).as("above"))
    val m = g.agg(sum("n_g").as("nn"), sum("above").as("aa"))
    def d(c: Column): Column = c.cast("double")
    val withExp = g.crossJoin(broadcast(m))
      .withColumn("ea", d(col("n_g") * col("aa")) / d(col("nn")))
      .withColumn("eb",
        d(col("n_g") * (col("nn") - col("aa"))) / d(col("nn")))
      .withColumn("term", round(
        (d(col("above")) - col("ea")) * (d(col("above")) - col("ea")) /
          col("ea") +
        (d(col("n_g") - col("above")) - col("eb")) *
          (d(col("n_g") - col("above")) - col("eb")) / col("eb"), 6)
        .cast("decimal(18,6)"))
    val chi2 = withExp.agg(
      sum("term").cast("double").as("chi2"))
    withExp.crossJoin(broadcast(chi2))
      .select(col("flag"), lit(median).as("median_qty"), col("n_g"),
        col("above"), round(col("ea"), 6).as("expected_above"),
        col("term").cast("double").as("term"),
        col("chi2"), (col("chi2") > 5.991).as("significant"))
      .orderBy("flag")
  }

  val q252Oracle: String =
    """WITH qc AS (SELECT l_returnflag AS flag,
      |  CAST(l_quantity AS BIGINT) AS qty, count(*) AS n
      | FROM lineitem WHERE l_quantity IS NOT NULL GROUP BY 1, 2),
      |hist AS (SELECT qty, CAST(sum(n) AS BIGINT) AS n FROM qc
      |  GROUP BY qty),
      |cum AS (SELECT qty, CAST(sum(n) OVER (ORDER BY qty
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |    AS c, (SELECT CAST(sum(n) AS BIGINT) FROM hist) AS nt
      | FROM hist),
      |med AS (SELECT min(qty) AS median_qty FROM cum
      |  WHERE c >= (nt + 1) // 2),
      |g AS (SELECT flag, CAST(sum(n) AS BIGINT) AS n_g,
      |  CAST(sum(CASE WHEN qty > (SELECT median_qty FROM med)
      |    THEN n ELSE 0 END) AS BIGINT) AS above
      | FROM qc GROUP BY flag),
      |m AS (SELECT CAST(sum(n_g) AS BIGINT) AS nn,
      |  CAST(sum(above) AS BIGINT) AS aa FROM g),
      |t AS (SELECT flag, n_g, above,
      |  CAST(n_g * aa AS DOUBLE) / CAST(nn AS DOUBLE) AS ea,
      |  CAST(n_g * (nn - aa) AS DOUBLE) / CAST(nn AS DOUBLE) AS eb
      | FROM g CROSS JOIN m),
      |terms AS (SELECT flag, n_g, above, ea,
      |  CAST(round(
      |    (CAST(above AS DOUBLE) - ea) * (CAST(above AS DOUBLE) - ea)
      |      / ea +
      |    (CAST(n_g - above AS DOUBLE) - eb)
      |      * (CAST(n_g - above AS DOUBLE) - eb) / eb, 6)
      |    AS DECIMAL(18,6)) AS term
      | FROM t),
      |x AS (SELECT CAST(sum(term) AS DOUBLE) AS chi2 FROM terms)
      |SELECT flag, (SELECT median_qty FROM med) AS median_qty, n_g,
      |  above, round(ea, 6) AS expected_above,
      |  CAST(term AS DOUBLE) AS term, chi2, chi2 > 5.991 AS significant
      |FROM terms CROSS JOIN x
      |ORDER BY flag""".stripMargin

  /** One-way ANOVA F (q256) — the classic k-sample mean comparison
    * that q236's Welch t covers only for k=2 (and with unequal
    * variances). Group moments (n, Σx, Σx²) are exact DECIMAL(38,0)
    * sums over integer cents — one map-side-combinable scan, k rows
    * out. SSW/SSB per-group terms are then computed in double (exact
    * long inputs, identical IEEE ops in both engines) and quantized
    * to DECIMAL(38,4) BEFORE the cross-group sum, so the k-term fold
    * is order-independent — the q243/q252 discipline. The grand
    * moments come from summing the group DECIMALS (exact), never a
    * second corpus scan: the whole statistic costs one pass at any
    * corpus size, and the F assembly runs on a k-row frame.
    */
  def q256AnovaF(s: SparkSession, dir: String): DataFrame =
    anovaFrom(lineitem(s, dir)
      .select(col("l_returnflag").as("grp"),
        round(col("l_extendedprice") * 100).cast("long").as("cents")))

  /** [[q256AnovaF]] over an explicit `(grp, cents)` frame — factored
    * so FeatureSpec can pin a significant arm on shifted synthetic
    * groups and the degenerate single-group arm (F undefined → NULL).
    */
  private[graft] def anovaFrom(sample: DataFrame): DataFrame = {
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val g = sample.filter(col("cents").isNotNull)
      .groupBy("grp").agg(
        count(lit(1)).as("n"),
        sum(dec(col("cents"))).as("sx"),
        sum(dec(col("cents")) * dec(col("cents"))).as("sxx"))
    def d(name: String): Column = col(name).cast("double")
    // per-group within/between terms in double, quantized to decimal
    // so the k-group sum below is order-independent across engines
    val terms = g.select(col("n"), col("sx"),
      round(d("sxx") - d("sx") * d("sx") / d("n"), 4)
        .cast("decimal(38,4)").as("w_term"),
      round(d("sx") * d("sx") / d("n"), 4)
        .cast("decimal(38,4)").as("b_part"))
    val m = terms.agg(
      count(lit(1)).as("k"),
      sum(col("n")).as("n_total"),
      sum(col("sx")).as("s_total"),
      sum(col("w_term")).as("ssw"),
      sum(col("b_part")).as("b_parts"))
    val ssb = d("b_parts") - d("s_total") * d("s_total") / d("n_total")
    val fRaw = (ssb / (d("k") - 1.0)) /
      (d("ssw") / (d("n_total") - d("k")))
    m.select(col("k"), col("n_total"),
      (col("k") - 1).as("df1"), (col("n_total") - col("k")).as("df2"),
      when(col("k") > 1 && col("n_total") > col("k"),
        round(fRaw, 6)).as("f"),
      when(col("k") > 1 && col("n_total") > col("k"),
        round(fRaw, 6) > 2.996).as("significant"))
  }

  val q256Oracle: String =
    """WITH sample AS (SELECT l_returnflag AS grp,
      |  CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
      | FROM lineitem WHERE l_extendedprice IS NOT NULL),
      |g AS (SELECT grp, count(*) AS n,
      |  sum(CAST(cents AS DECIMAL(38,0))) AS sx,
      |  sum(CAST(cents AS DECIMAL(38,0))
      |    * CAST(cents AS DECIMAL(38,0))) AS sxx
      | FROM sample GROUP BY grp),
      |terms AS (SELECT n, sx,
      |  CAST(round(CAST(sxx AS DOUBLE)
      |    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
      |      / CAST(n AS DOUBLE), 4) AS DECIMAL(38,4)) AS w_term,
      |  CAST(round(CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
      |      / CAST(n AS DOUBLE), 4) AS DECIMAL(38,4)) AS b_part
      | FROM g),
      |m AS (SELECT CAST(count(*) AS BIGINT) AS k,
      |  CAST(sum(n) AS BIGINT) AS n_total,
      |  sum(sx) AS s_total, sum(w_term) AS ssw, sum(b_part) AS b_parts
      | FROM terms),
      |f AS (SELECT k, n_total,
      |  ((CAST(b_parts AS DOUBLE)
      |      - CAST(s_total AS DOUBLE) * CAST(s_total AS DOUBLE)
      |        / CAST(n_total AS DOUBLE))
      |    / (CAST(k AS DOUBLE) - 1.0))
      |  / (CAST(ssw AS DOUBLE)
      |    / (CAST(n_total AS DOUBLE) - CAST(k AS DOUBLE))) AS f_raw
      | FROM m)
      |SELECT k, n_total, k - 1 AS df1, n_total - k AS df2,
      |  CASE WHEN k > 1 AND n_total > k THEN round(f_raw, 6) END AS f,
      |  CASE WHEN k > 1 AND n_total > k
      |    THEN round(f_raw, 6) > 2.996 END AS significant
      |FROM f""".stripMargin

  /** Two-sample effect sizes (q257): Cohen's d (parametric,
    * pooled-SD standardized mean difference) and Cliff's delta
    * (nonparametric dominance, P(X>Y) − P(X<Y)) between the A and R
    * return-flag populations on l_quantity. Significance tests say
    * WHETHER distributions differ; effect sizes say HOW MUCH — the
    * pair every A/B readout needs together (q236/q222 give the
    * former). Cliff's delta is computed EXACTLY from the bounded
    * value domain (l_quantity ∈ 1..50): two ≤50-row histograms
    * cross-joined — 2 500 integer-product cells, counts × counts in
    * DECIMAL(38,0), immune to both corpus size and summation order.
    * Cohen's d reuses the exact decimal moment machinery. The corpus
    * pays ONE grouped scan; everything downstream is domain-bounded.
    */
  def q257EffectSizes(s: SparkSession, dir: String): DataFrame =
    effectSizesFrom(lineitem(s, dir)
      .filter(col("l_returnflag").isin("A", "R"))
      .select((col("l_returnflag") === "A").as("is_a"),
        col("l_quantity").cast("long").as("qty")))

  /** [[q257EffectSizes]] over an explicit `(is_a, qty)` frame —
    * factored so FeatureSpec can pin a large-effect arm on shifted
    * synthetic samples (the gate's uniform quantities are honestly
    * negligible-effect at every SF).
    */
  private[graft] def effectSizesFrom(sample: DataFrame): DataFrame = {
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val hist = sample.filter(col("qty").isNotNull)
      .groupBy("is_a", "qty").agg(count(lit(1)).as("n"))
      .localCheckpoint() // ≤ 2 × bounded value domain rows
    val a = hist.filter(col("is_a")).select(col("qty").as("qa"),
      col("n").as("na"))
    val b = hist.filter(!col("is_a")).select(col("qty").as("qb"),
      col("n").as("nb"))
    val dom = a.crossJoin(b).agg(
      sum(when(col("qa") > col("qb"),
        dec(col("na")) * dec(col("nb"))).otherwise(lit(0).cast("decimal(38,0)"))).as("gt"),
      sum(when(col("qa") < col("qb"),
        dec(col("na")) * dec(col("nb"))).otherwise(lit(0).cast("decimal(38,0)"))).as("lt"))
    val g = sample.filter(col("qty").isNotNull).groupBy("is_a").agg(
      count(lit(1)).as("n"),
      sum(dec(col("qty"))).as("sx"),
      sum(dec(col("qty")) * dec(col("qty"))).as("sxx"))
    val m = g.agg(
      max(when(col("is_a"), col("n"))).as("n1"),
      max(when(col("is_a"), col("sx"))).as("sx1"),
      max(when(col("is_a"), col("sxx"))).as("sxx1"),
      max(when(!col("is_a"), col("n"))).as("n2"),
      max(when(!col("is_a"), col("sx"))).as("sx2"),
      max(when(!col("is_a"), col("sxx"))).as("sxx2"))
    def d(name: String): Column = col(name).cast("double")
    val ss1 = d("sxx1") - d("sx1") * d("sx1") / d("n1")
    val ss2 = d("sxx2") - d("sx2") * d("sx2") / d("n2")
    val sPooled = sqrt((ss1 + ss2) / (d("n1") + d("n2") - 2.0))
    val dRaw = (d("sx1") / d("n1") - d("sx2") / d("n2")) / sPooled
    val deltaRaw = (d("gt") - d("lt")) / (d("n1") * d("n2"))
    m.crossJoin(dom).select(col("n1"), col("n2"),
      when(col("n1") + col("n2") > 2, round(dRaw, 6)).as("cohens_d"),
      when(col("n1") > 0 && col("n2") > 0,
        round(deltaRaw, 6)).as("cliffs_delta"),
      when(col("n1") > 0 && col("n2") > 0,
        when(abs(round(deltaRaw, 6)) < 0.147, "negligible")
          .when(abs(round(deltaRaw, 6)) < 0.33, "small")
          .when(abs(round(deltaRaw, 6)) < 0.474, "medium")
          .otherwise("large")).as("magnitude"))
  }

  val q257Oracle: String =
    """WITH sample AS (SELECT l_returnflag = 'A' AS is_a,
      |  CAST(l_quantity AS BIGINT) AS qty
      | FROM lineitem
      | WHERE l_returnflag IN ('A', 'R') AND l_quantity IS NOT NULL),
      |hist AS (SELECT is_a, qty, count(*) AS n
      | FROM sample GROUP BY 1, 2),
      |dom AS (SELECT
      |  sum(CASE WHEN a.qty > b.qty
      |    THEN CAST(a.n AS DECIMAL(38,0)) * CAST(b.n AS DECIMAL(38,0))
      |    ELSE CAST(0 AS DECIMAL(38,0)) END) AS gt,
      |  sum(CASE WHEN a.qty < b.qty
      |    THEN CAST(a.n AS DECIMAL(38,0)) * CAST(b.n AS DECIMAL(38,0))
      |    ELSE CAST(0 AS DECIMAL(38,0)) END) AS lt
      | FROM (SELECT * FROM hist WHERE is_a) a
      | CROSS JOIN (SELECT * FROM hist WHERE NOT is_a) b),
      |g AS (SELECT is_a, count(*) AS n,
      |  sum(CAST(qty AS DECIMAL(38,0))) AS sx,
      |  sum(CAST(qty AS DECIMAL(38,0))
      |    * CAST(qty AS DECIMAL(38,0))) AS sxx
      | FROM sample GROUP BY is_a),
      |m AS (SELECT
      |  CAST(max(CASE WHEN is_a THEN n END) AS BIGINT) AS n1,
      |  max(CASE WHEN is_a THEN sx END) AS sx1,
      |  max(CASE WHEN is_a THEN sxx END) AS sxx1,
      |  CAST(max(CASE WHEN NOT is_a THEN n END) AS BIGINT) AS n2,
      |  max(CASE WHEN NOT is_a THEN sx END) AS sx2,
      |  max(CASE WHEN NOT is_a THEN sxx END) AS sxx2
      | FROM g),
      |e AS (SELECT n1, n2,
      |  (CAST(sx1 AS DOUBLE) / CAST(n1 AS DOUBLE)
      |    - CAST(sx2 AS DOUBLE) / CAST(n2 AS DOUBLE))
      |  / sqrt(((CAST(sxx1 AS DOUBLE)
      |       - CAST(sx1 AS DOUBLE) * CAST(sx1 AS DOUBLE)
      |         / CAST(n1 AS DOUBLE))
      |     + (CAST(sxx2 AS DOUBLE)
      |       - CAST(sx2 AS DOUBLE) * CAST(sx2 AS DOUBLE)
      |         / CAST(n2 AS DOUBLE)))
      |    / (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE) - 2.0)) AS d_raw,
      |  (CAST(gt AS DOUBLE) - CAST(lt AS DOUBLE))
      |    / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)) AS delta_raw
      | FROM m CROSS JOIN dom)
      |SELECT n1, n2,
      |  CASE WHEN n1 + n2 > 2 THEN round(d_raw, 6) END AS cohens_d,
      |  CASE WHEN n1 > 0 AND n2 > 0
      |    THEN round(delta_raw, 6) END AS cliffs_delta,
      |  CASE WHEN n1 > 0 AND n2 > 0 THEN
      |    CASE WHEN abs(round(delta_raw, 6)) < 0.147 THEN 'negligible'
      |         WHEN abs(round(delta_raw, 6)) < 0.33 THEN 'small'
      |         WHEN abs(round(delta_raw, 6)) < 0.474 THEN 'medium'
      |         ELSE 'large' END END AS magnitude
      |FROM e""".stripMargin

  /** Theil–Sen robust trend (q258) over the monthly revenue series —
    * the median-of-pairwise-slopes estimator with a 29% breakdown
    * point, where OLS (q203) is wrecked by a single corrupted month.
    * The pair frame is CALENDAR-BOUNDED (months², never rows²): ~84
    * months → ~3.5k pairs at ANY corpus size — the q251 class, where
    * the corpus-sized work is one map-side-combinable monthly
    * aggregate (exact DECIMAL cents) and everything downstream is
    * fixed-size. Each slope is ONE double division of exact longs
    * (identical IEEE both engines); the median is the LOWER median
    * selected by the total order (slope, x_i, x_j) — an order
    * statistic, no averaging semantics to disagree about. The
    * intercept re-uses the machinery: lower median of per-month
    * residuals y − slope·x. Window functions here run on the
    * months-bounded frame, never the corpus.
    */
  def q258TheilSen(s: SparkSession, dir: String): DataFrame =
    theilSenFrom(orders(s, dir)
      .groupBy((year(col("o_orderdate")) * 12 +
        month(col("o_orderdate"))).as("x"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long"))
        .cast("long").as("y")))

  /** [[q258TheilSen]] over an explicit `(x, y)` series — factored so
    * FeatureSpec can pin the 29%-breakdown property on a corrupted
    * synthetic line (the estimator's whole reason to exist, which the
    * gate's clean revenue series cannot exercise).
    */
  private[graft] def theilSenFrom(series: DataFrame): DataFrame = {
    val monthly = series
      .localCheckpoint() // calendar-bounded: one row per month
    val p = monthly.as("a").join(broadcast(monthly.as("b")),
      col("a.x") < col("b.x"))
      .select(col("a.x").as("xi"), col("b.x").as("xj"),
        ((col("b.y") - col("a.y")).cast("double") /
          (col("b.x") - col("a.x")).cast("double")).as("slope"))
    val w = Window.orderBy(col("slope"), col("xi"), col("xj"))
    val nPairs = p.count()
    if (nPairs == 0) {
      // degenerate series (≤1 month): defined, empty-safe output
      return monthly.agg(count(lit(1)).as("n_months"))
        .select(col("n_months"), lit(0L).as("n_pairs"),
          lit(null).cast("double").as("slope_per_month"),
          lit(null).cast("double").as("intercept_cents"),
          lit(null).cast("string").as("direction"))
    }
    val medSlope = p.withColumn("rn", row_number().over(w))
      .filter(col("rn") === lit((nPairs + 1) / 2))
      .select(col("slope").as("med_slope"))
    val resid = monthly.crossJoin(broadcast(medSlope))
      .select(col("med_slope"),
        (col("y").cast("double") -
          col("med_slope") * col("x").cast("double")).as("r"),
        col("x"))
    val wr = Window.orderBy(col("r"), col("x"))
    val nM = monthly.count()
    val medResid = resid.withColumn("rn", row_number().over(wr))
      .filter(col("rn") === lit((nM + 1) / 2))
    medResid.select(lit(nM).as("n_months"), lit(nPairs).as("n_pairs"),
      round(col("med_slope"), 6).as("slope_per_month"),
      round(col("r"), 2).as("intercept_cents"),
      when(round(col("med_slope"), 6) > 0, "up")
        .when(round(col("med_slope"), 6) < 0, "down")
        .otherwise("flat").as("direction"))
  }

  val q258Oracle: String =
    """WITH monthly AS (SELECT
      |  CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT)
      |    AS x,
      |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |    AS y
      | FROM orders GROUP BY 1),
      |p AS (SELECT a.x AS xi, b.x AS xj,
      |  CAST(b.y - a.y AS DOUBLE) / CAST(b.x - a.x AS DOUBLE) AS slope
      | FROM monthly a JOIN monthly b ON a.x < b.x),
      |cnt AS (SELECT CAST(count(*) AS BIGINT) AS n_pairs FROM p),
      |ms AS (SELECT slope AS med_slope FROM (
      |   SELECT slope, row_number() OVER (ORDER BY slope, xi, xj) AS rn
      |   FROM p) t
      | WHERE rn = (SELECT (n_pairs + 1) // 2 FROM cnt)),
      |resid AS (SELECT med_slope,
      |  CAST(y AS DOUBLE) - med_slope * CAST(x AS DOUBLE) AS r, x
      | FROM monthly CROSS JOIN ms),
      |nm AS (SELECT CAST(count(*) AS BIGINT) AS n_months FROM monthly),
      |mr AS (SELECT med_slope, r FROM (
      |   SELECT med_slope, r, row_number() OVER (ORDER BY r, x) AS rn
      |   FROM resid) t
      | WHERE rn = (SELECT (n_months + 1) // 2 FROM nm))
      |SELECT (SELECT n_months FROM nm) AS n_months,
      |  (SELECT n_pairs FROM cnt) AS n_pairs,
      |  round(med_slope, 6) AS slope_per_month,
      |  round(r, 2) AS intercept_cents,
      |  CASE WHEN round(med_slope, 6) > 0 THEN 'up'
      |       WHEN round(med_slope, 6) < 0 THEN 'down'
      |       ELSE 'flat' END AS direction
      |FROM mr""".stripMargin

  /** Holt linear (double-exponential) smoothing (q263) — the
    * level+trend forecaster between q159's EWMA (level only, finite
    * window) and q201's seasonal-naive backtest: α=0.3 on the level,
    * β=0.1 on the trend, one-step-ahead SSE accumulated along the
    * fit, h-step forecasts l_T + h·b_T.
    *
    * The recurrence has infinite memory, so it cannot be a window
    * aggregate; the series is CALENDAR-BOUNDED (one row per month —
    * ~84 at any corpus size), so the fold runs on the driver over a
    * collected frame, the same bounded-driver-state class as the
    * k-means centroids (`ops/Similarity.scala`) — the corpus-sized
    * work is the one map-side-combinable monthly aggregate.
    * Cross-engine determinism: the oracle replays the IDENTICAL
    * IEEE op sequence in a recursive CTE — same literals (0.3/0.7,
    * 0.1/0.9), same parenthesization, sequential SSE — on exact-long
    * inputs, so every intermediate double matches bit for bit (the
    * q159/q76 discipline); final values rounded via the same
    * HALF_UP/away-from-zero path both engines use for positive
    * doubles.
    */
  def q263HoltLinear(s: SparkSession, dir: String): DataFrame = {
    val monthly = orders(s, dir)
      .groupBy((year(col("o_orderdate")) * 12 +
        month(col("o_orderdate"))).as("x"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long"))
        .cast("long").as("y"))
      .orderBy("x")
      .collect() // calendar-bounded: one row per month
    import s.implicits._
    if (monthly.length < 2) {
      return Seq((monthly.length.toLong, Option.empty[Double],
        Option.empty[Double], Option.empty[Double], Option.empty[Double],
        Option.empty[Double]))
        .toDF("n_months", "level", "trend", "rmse", "f1", "f3")
    }
    val ys = monthly.map(_.getAs[Long]("y").toDouble)
    var l = ys(0)
    var b = ys(1) - ys(0)
    var sse = 0.0
    var i = 1
    while (i < ys.length) {
      val e = ys(i) - (l + b)
      sse += e * e
      val lNew = 0.3 * ys(i) + 0.7 * (l + b)
      b = 0.1 * (lNew - l) + 0.9 * b
      l = lNew
      i += 1
    }
    val rmse = math.sqrt(sse / (ys.length - 1).toDouble)
    Seq((ys.length.toLong, l, b, rmse, l + 1.0 * b, l + 3.0 * b))
      .toDF("n_months", "level", "trend", "rmse", "f1", "f3")
      .select(col("n_months"), round(col("level"), 2).as("level"),
        round(col("trend"), 2).as("trend"),
        round(col("rmse"), 2).as("rmse"),
        round(col("f1"), 2).as("f1"), round(col("f3"), 2).as("f3"))
  }

  val q263Oracle: String =
    """WITH RECURSIVE monthly AS (SELECT
      |  CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT)
      |    AS x,
      |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |    AS y
      | FROM orders GROUP BY 1),
      |idx AS (SELECT row_number() OVER (ORDER BY x) AS i,
      |  CAST(y AS DOUBLE) AS y FROM monthly),
      |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM idx),
      |hw AS (
      | SELECT CAST(2 AS BIGINT) AS i,
      |   0.3 * (SELECT y FROM idx WHERE i = 2)
      |     + 0.7 * ((SELECT y FROM idx WHERE i = 1)
      |       + ((SELECT y FROM idx WHERE i = 2)
      |          - (SELECT y FROM idx WHERE i = 1))) AS l,
      |   0.1 * ((0.3 * (SELECT y FROM idx WHERE i = 2)
      |     + 0.7 * ((SELECT y FROM idx WHERE i = 1)
      |       + ((SELECT y FROM idx WHERE i = 2)
      |          - (SELECT y FROM idx WHERE i = 1))))
      |     - (SELECT y FROM idx WHERE i = 1))
      |     + 0.9 * ((SELECT y FROM idx WHERE i = 2)
      |          - (SELECT y FROM idx WHERE i = 1)) AS b,
      |   ((SELECT y FROM idx WHERE i = 2)
      |     - ((SELECT y FROM idx WHERE i = 1)
      |       + ((SELECT y FROM idx WHERE i = 2)
      |          - (SELECT y FROM idx WHERE i = 1))))
      |   * ((SELECT y FROM idx WHERE i = 2)
      |     - ((SELECT y FROM idx WHERE i = 1)
      |       + ((SELECT y FROM idx WHERE i = 2)
      |          - (SELECT y FROM idx WHERE i = 1)))) AS sse
      | UNION ALL
      | SELECT hw.i + 1,
      |   0.3 * idx.y + 0.7 * (hw.l + hw.b),
      |   0.1 * ((0.3 * idx.y + 0.7 * (hw.l + hw.b)) - hw.l)
      |     + 0.9 * hw.b,
      |   hw.sse + (idx.y - (hw.l + hw.b)) * (idx.y - (hw.l + hw.b))
      | FROM hw JOIN idx ON idx.i = hw.i + 1)
      |SELECT (SELECT n FROM nn) AS n_months,
      |  round(l, 2) AS level, round(b, 2) AS trend,
      |  round(sqrt(sse / CAST((SELECT n FROM nn) - 1 AS DOUBLE)), 2)
      |    AS rmse,
      |  round(l + 1.0 * b, 2) AS f1, round(l + 3.0 * b, 2) AS f3
      |FROM hw WHERE i = (SELECT n FROM nn)""".stripMargin

  /** Seasonal-strength diagnostics (q270) — the decomposition readout
    * beside q221's ACF: how much of the daily-revenue variance is
    * explained by the WEEKLY cycle vs the YEARLY cycle, as the ANOVA
    * variance ratio η² = 1 − SSW/SST over day-of-week and
    * month-of-year groupings (Hyndman's seasonal-strength measure
    * with the group-mean seasonal component). Two bounded group
    * frames (7 and 12 rows) from ONE calendar-bounded daily aggregate;
    * exact DECIMAL moments with the q256 quantize-before-fold
    * discipline; SST from the pooled group moments, never a second
    * corpus scan.
    */
  def q270SeasonalStrength(s: SparkSession, dir: String): DataFrame = {
    val daily = orders(s, dir)
      .groupBy(col("o_orderdate").cast("date").as("day"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long"))
        .cast("long").as("y"))
      .localCheckpoint() // calendar-bounded
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    def d(name: String): Column = col(name).cast("double")
    def eta2For(key: Column): DataFrame = {
      val g = daily.groupBy(key.as("g")).agg(
        count(lit(1)).as("n"),
        sum(dec(col("y"))).as("sx"),
        sum(dec(col("y")) * dec(col("y"))).as("sxx"))
      g.select(col("n"), col("sx"), col("sxx"),
        round(d("sxx") - d("sx") * d("sx") / d("n"), 4)
          .cast("decimal(38,4)").as("w_term"))
        .agg(sum(col("n")).as("n_days"),
          sum(col("sx")).as("s_tot"), sum(col("sxx")).as("ss_tot"),
          sum(col("w_term")).as("ssw"))
        .select(col("n_days"),
          (d("ss_tot") - d("s_tot") * d("s_tot") / d("n_days"))
            .as("sst"), d("ssw").as("ssw"))
        .select(col("n_days"),
          when(col("sst") > 0,
            round(lit(1.0) - col("ssw") / col("sst"), 6)).as("eta2"))
    }
    val weekly = eta2For(dayofweek(col("day")))
      .select(col("n_days"), col("eta2").as("eta2_weekly"))
    val yearly = eta2For(month(col("day")))
      .select(col("eta2").as("eta2_monthly"))
    weekly.crossJoin(yearly)
      .withColumn("dominant",
        when(col("eta2_weekly").isNull || col("eta2_monthly").isNull,
          lit(null).cast("string"))
          .when(col("eta2_weekly") > col("eta2_monthly"), "weekly")
          .when(col("eta2_monthly") > col("eta2_weekly"), "monthly")
          .otherwise("tie"))
  }

  val q270Oracle: String =
    """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
      |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |    AS y
      | FROM orders GROUP BY 1),
      |gw AS (SELECT dayofweek(day) AS g, count(*) AS n,
      |  sum(CAST(y AS DECIMAL(38,0))) AS sx,
      |  sum(CAST(y AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0))) AS sxx
      | FROM daily GROUP BY 1),
      |tw AS (SELECT n, sx, sxx,
      |  CAST(round(CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)
      |    * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE), 4)
      |    AS DECIMAL(38,4)) AS w_term FROM gw),
      |aw AS (SELECT CAST(sum(n) AS BIGINT) AS n_days,
      |  CAST(sum(sx) AS DOUBLE) AS s_tot,
      |  CAST(sum(sxx) AS DOUBLE) AS ss_tot,
      |  CAST(sum(w_term) AS DOUBLE) AS ssw FROM tw),
      |ew AS (SELECT n_days,
      |  CASE WHEN ss_tot - s_tot * s_tot / CAST(n_days AS DOUBLE) > 0
      |    THEN round(1.0 - ssw / (ss_tot - s_tot * s_tot
      |      / CAST(n_days AS DOUBLE)), 6) END AS eta2_weekly FROM aw),
      |gm AS (SELECT month(day) AS g, count(*) AS n,
      |  sum(CAST(y AS DECIMAL(38,0))) AS sx,
      |  sum(CAST(y AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0))) AS sxx
      | FROM daily GROUP BY 1),
      |tm AS (SELECT n, sx, sxx,
      |  CAST(round(CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)
      |    * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE), 4)
      |    AS DECIMAL(38,4)) AS w_term FROM gm),
      |am AS (SELECT CAST(sum(n) AS BIGINT) AS n_days,
      |  CAST(sum(sx) AS DOUBLE) AS s_tot,
      |  CAST(sum(sxx) AS DOUBLE) AS ss_tot,
      |  CAST(sum(w_term) AS DOUBLE) AS ssw FROM tm),
      |em AS (SELECT
      |  CASE WHEN ss_tot - s_tot * s_tot / CAST(n_days AS DOUBLE) > 0
      |    THEN round(1.0 - ssw / (ss_tot - s_tot * s_tot
      |      / CAST(n_days AS DOUBLE)), 6) END AS eta2_monthly FROM am)
      |SELECT n_days, eta2_weekly, eta2_monthly,
      |  CASE WHEN eta2_weekly IS NULL OR eta2_monthly IS NULL THEN NULL
      |       WHEN eta2_weekly > eta2_monthly THEN 'weekly'
      |       WHEN eta2_monthly > eta2_weekly THEN 'monthly'
      |       ELSE 'tie' END AS dominant
      |FROM ew CROSS JOIN em""".stripMargin

  def gates: Seq[graft.Gate] = Seq(
    gate("q270_seasonal_strength", q270SeasonalStrength, q270Oracle),
    gate("q285_robust_stats", q285RobustStats, q285Oracle),
    gate("q263_holt_linear", q263HoltLinear, q263Oracle),
    gate("q256_anova_f", q256AnovaF, q256Oracle),
    gate("q257_effect_sizes", q257EffectSizes, q257Oracle),
    gate("q258_theil_sen", q258TheilSen, q258Oracle),
    gate("q259_clustering_coeff", q259ClusteringCoeff, q259Oracle),
    gate("q251_kendall_tau", q251KendallTau, q251Oracle),
    gate("q252_mood_median", q252MoodMedian, q252Oracle),
    gate("q231_poisson_bootstrap", q231PoissonBootstrap, q231Oracle),
    gate("q230_pagerank_parts", q230PagerankParts, q230Oracle),
    gate("q229_psi", q229Psi, q229Oracle),
    gate("q222_mann_whitney", q222MannWhitney, q222Oracle),
    gate("q236_welch_t", q236WelchT, q236Oracle),
    gate("q237_ks_test", q237KsTest, q237Oracle),
    gate("q238_spearman", q238Spearman, q238Oracle),
    gate("q242_cramers_v", q242CramersV, q242Oracle),
    gate("q243_jsd", q243Jsd, q243Oracle),
    gate("q244_cusum", q244Cusum, q244Oracle),
    gate("q245_mutual_info", q245MutualInfo, q245Oracle),
    gate("q239_gini", q239Gini, q239Oracle),
    gate("q221_acf", q221Acf, q221Oracle),
    gate("q224_modularity", q224Modularity, q224Oracle),
    gate("q225_assortativity", q225Assortativity, q225Oracle),
    gate("q220_sssp_relax", q220SsspRelax, q220Oracle),
    gate("q219_hits", q219Hits, q219Oracle),
    gate("q218_link_prediction", q218LinkPrediction, q218Oracle),
    gate("q206_label_propagation", q206LabelPropagation, q206Oracle),
    gate("q207_bfs_hops", q207BfsHops, q207Oracle),
    gate("q170_string_indexer", q170StringIndexer, q170Oracle),
    gate("q198_coreness", q198Coreness, q198Oracle),
    gate("q195_target_encoding", q195TargetEncoding, q195Oracle),
    gate("q162_pit_join", q162PitJoin, q162Oracle),
    gate("q159_ewma", q159Ewma, q159Oracle),
    gate("q160_interval_join", q160IntervalJoin, q160Oracle),
    gate("q154_triangles", q154Triangles(_, _), q154Oracle),
    gate("q155_jl_projection", q155JlProjection, q155Oracle),
    gate("q156_robust_scale", q156RobustScale, q156Oracle),
    gate("q150_equidepth_bins", q150EquidepthBins, q150Oracle),
    gate("q151_chi_square", q151ChiSquare, q151Oracle),
    gate("q152_table_checksum", q152TableChecksum, q152Oracle)
  )
}
