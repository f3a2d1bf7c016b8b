// Copyright (c) 2026 graft contributors
// SPDX-License-Identifier: Apache-2.0

package graft.ops

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Physical-layout utilities for shuffle-free joins at scale ([EXT]):
  * bucketed tables co-locate join keys at write time so repeated
  * fact⋈fact joins and aggregations on the bucket key need no
  * exchange — the standard 100 TB technique for dimension-stable
  * pipelines (write once bucketed, join many times for free).
  *
  * Bucketing requires the session catalog (`saveAsTable`); callers
  * pick bucket counts so `rows/buckets` fits an executor's memory at
  * target scale.
  */
object Layout extends graft.Gates(graft.Gate.LakeProtocol) {

  /** Write `df` as a bucketed+sorted catalog table. */
  def writeBucketed(df: DataFrame, table: String, bucketCols: Seq[String],
      numBuckets: Int): Unit =
    df.write
      .mode(SaveMode.Overwrite)
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .format("parquet")
      .saveAsTable(table)

  /** True when the physical plan of `df` contains a shuffle exchange —
    * the assertion hook for bucketed-join tests.
    */
  def hasShuffle(df: DataFrame): Boolean =
    df.queryExecution.executedPlan.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeLike])

  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions.{col, lit, shiftleft}

  /** Spread the low 32 bits of a non-negative long so a second
    * dimension can interleave into the odd bit positions — the classic
    * five-step morton bit-twiddle, expressed in Column ops so it stays
    * inside whole-stage codegen.
    */
  private def spreadBits(c: Column): Column = {
    val masks = Seq(
      (16, 0x0000FFFF0000FFFFL), (8, 0x00FF00FF00FF00FFL),
      (4, 0x0F0F0F0F0F0F0F0FL), (2, 0x3333333333333333L),
      (1, 0x5555555555555555L))
    masks.foldLeft(c.bitwiseAND(lit(0xFFFFFFFFL))) {
      case (x, (sh, m)) => x.bitwiseOR(shiftleft(x, sh)).bitwiseAND(lit(m))
    }
  }

  /** Z-order (Morton) key of two non-negative int-ranged columns: bits
    * interleave so sorting by the key clusters rows that are close in
    * BOTH dimensions. Files cut from that order have tight min/max
    * rectangles per column, which is what makes the commit log's
    * multi-column stats ([[graft.lake.MiniLake.snapshotForRanges]])
    * prune 2-D range queries — a linear sort only ever skips on its
    * leading column. Delta/Iceberg expose the same lever as
    * OPTIMIZE ZORDER BY / sort-order transforms.
    */
  def zorderValue(a: Column, b: Column): Column =
    spreadBits(a).bitwiseOR(shiftleft(spreadBits(b), 1))

  /** Repartition `df` by Z-key range into `numFiles` cluster-sorted
    * splits (one output file each) — the OPTIMIZE ZORDER write path.
    * Each dimension is first normalized to 16 bits against its
    * observed [min, max] (one metadata-sized aggregate, the same
    * analysis pass Delta's OPTIMIZE runs): interleaving RAW values
    * would let the wider-ranged column dominate the curve and turn
    * the clusters into stripes. The normalization is layout-only —
    * any monotone map works — so double math is fine here even
    * though it never would be in an output column. Range
    * partitioning keeps splits balanced under skew; the within-
    * partition sort keeps each file's per-column stats tight.
    */
  def zorderWrite(df: DataFrame, cols: (String, String),
      numFiles: Int): DataFrame = {
    import org.apache.spark.sql.functions.{max => fmax, min => fmin}
    val (a, b) = cols
    val r = df.agg(fmin(col(a).cast("long")), fmax(col(a).cast("long")),
      fmin(col(b).cast("long")), fmax(col(b).cast("long"))).head()
    // empty input: no bounds, no curve — the layout of nothing is df
    if (r.isNullAt(0)) return df
    def norm(c: Column, mn: Long, mx: Long): Column =
      if (mx <= mn) lit(0L)
      else ((c - lit(mn)).cast("double") / lit((mx - mn).toDouble) *
        lit(65535.0)).cast("long")
    val z = zorderValue(
      norm(col(a), r.getLong(0), r.getLong(1)),
      norm(col(b), r.getLong(2), r.getLong(3)))
    df.withColumn("_zkey", z)
      .repartitionByRange(numFiles, col("_zkey"))
      .sortWithinPartitions("_zkey")
      .drop("_zkey")
  }

  import org.apache.spark.sql.{DataFrame, SparkSession}
  import org.apache.spark.sql.functions.{count, countDistinct, lit}

  /** Bucketed co-located join as a gate: both sides land bucketed (and
    * sorted) on the join key, so the sort-merge join consumes the
    * written layout directly — no shuffle exchange, no sort, on either
    * side (LayoutSkewSpec asserts the physical plan; this gate proves
    * the numbers). This is THE lever for repeated fact⋈fact joins at
    * 100 TB: the exchange is paid once at write time and amortized
    * across every subsequent join/aggregation on the key. The merge
    * hint pins the join strategy so the gate exercises the bucketed
    * path even where the dimension side would broadcast.
    */
  def q110BucketedJoin(s: SparkSession, dir: String): DataFrame = {
    // self-clean: a fresh JVM's in-memory catalog has forgotten the
    // table but the warehouse directory survives — saveAsTable then
    // refuses the orphaned location, so drop BOTH catalog entry and dir
    Seq("graft_b_customer", "graft_b_orders").foreach { t =>
      s.sql(s"DROP TABLE IF EXISTS $t")
      graft.lake.MiniLake.deleteRecursively(
        s.conf.get("spark.sql.warehouse.dir")
          .stripPrefix("file:") + s"/$t")
    }
    val c0 = graft.Tables.customer(s, dir).select("c_custkey", "c_mktsegment")
    val o0 = graft.Tables.orders(s, dir).select("o_custkey", "o_orderkey")
    writeBucketed(c0, "graft_b_customer", Seq("c_custkey"), 8)
    writeBucketed(o0, "graft_b_orders", Seq("o_custkey"), 8)
    val c = s.table("graft_b_customer").hint("merge")
    val o = s.table("graft_b_orders").hint("merge")
    c.join(o, c("c_custkey") === o("o_custkey"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_orders"),
        countDistinct(col("c_custkey")).as("n_customers"))
      .orderBy("c_mktsegment")
  }

  val q110Oracle: String =
    """SELECT c_mktsegment, count(*) AS n_orders,
      | count(DISTINCT c_custkey) AS n_customers
      |FROM customer JOIN orders ON c_custkey = o_custkey
      |GROUP BY c_mktsegment
      |ORDER BY c_mktsegment""".stripMargin

  def gates: Seq[graft.Gate] = Seq(
    gate("q110_bucketed_join", q110BucketedJoin, q110Oracle)
  )
}
