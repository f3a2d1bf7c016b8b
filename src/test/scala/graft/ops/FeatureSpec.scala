// Copyright (c) 2026 graft contributors
// SPDX-License-Identifier: Apache-2.0

package graft.ops

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** Semantic contracts for the feature-engineering/reconciliation wave:
  * equi-depth binning, chi-square association, order-independent table
  * checksums, and incremental LSH dedup.
  */
class FeatureSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  /** `f` with automatic broadcast joins off, so the only broadcasts in
    * a plan are the ones a transport asks for by hint.
    */
  private def hintedBroadcastsOnly[T](f: => T): T = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try f finally spark.conf.set(key, prev)
  }

  /** The executed plans of every action `f` runs in this session,
    * localCheckpoints included (an iterative loop's joins are only
    * visible there).
    */
  private def executedPlans(f: => Unit): Seq[String] = {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      override def onSuccess(fn: String, qe: QueryExecution, ns: Long): Unit =
        seen.add(qe.executedPlan.toString)
      override def onFailure(fn: String, qe: QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val marker = s"plans-end-${System.nanoTime()}"
    try {
      f
      // listeners run on an asynchronous bus that delivers in order:
      // once the marker action's plan arrives, every plan of `f` has
      spark.range(1).selectExpr(s"'$marker' AS m").collect()
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (!seen.asScala.exists(_.contains(marker)) &&
          System.nanoTime() < deadline) Thread.sleep(20)
    } finally spark.listenerManager.unregister(listener)
    val plans = seen.asScala.toSeq
    assert(plans.exists(_.contains(marker)), "plan capture timed out")
    plans.filterNot(_.contains(marker))
  }

  test("q150: deciles partition all rows into ~equal, ordered bins") {
    val rows = Features.q150EquidepthBins(spark, sf).collect()
    val n = graft.Tables.events(spark, sf).count()
    assert(rows.map(_.getAs[Long]("n")).sum === n)
    val bins = rows.map(_.getAs[Int]("bin"))
    assert(bins.toSeq == bins.sorted.toSeq && bins.forall(b => b >= 0 && b <= 9))
    // equi-DEPTH: every decile within 2x of the ideal tenth (ties on
    // the 6-dp grid can shift mass between adjacent bins, never 2x)
    rows.map(_.getAs[Long]("n")).foreach { c =>
      assert(c > n / 20 && c < n / 5, s"bin count $c vs ideal ${n / 10}")
    }
    // bin value ranges are disjoint and ascending
    rows.sliding(2).foreach {
      case Array(a, b) =>
        assert(a.getAs[Double]("hi") <= b.getAs[Double]("lo"))
      case _ => ()
    }
  }

  test("q151: contingency mass conserved, contributions non-negative") {
    val rows = Features.q151ChiSquare(spark, sf).collect()
    val n = graft.Tables.orders(spark, sf).count()
    assert(rows.map(_.getAs[Long]("obs")).sum === n)
    // expected cell masses also sum to N (within rounding)
    val expSum = rows.map(_.getAs[Double]("expected")).sum
    assert(math.abs(expSum - n) < 1.0)
    assert(rows.forall(_.getAs[Double]("chi2_contrib") >= 0.0))
  }

  test("q152: gate checksum row counts match the tables") {
    val rows = Features.q152TableChecksum(spark, sf).collect()
      .map(r => r.getAs[String]("table_name") -> r.getAs[Long]("n_rows"))
      .toMap
    assert(rows("orders") === graft.Tables.orders(spark, sf).count())
    assert(rows("customer") === graft.Tables.customer(spark, sf).count())
    assert(rows("lineitem") === graft.Tables.lineitem(spark, sf).count())
  }

  test("checksum() is invariant under repartitioning and row order") {
    val base = graft.Tables.orders(spark, sf)
    val a = Features.checksum(base).collect()(0)
    val b = Features.checksum(base.repartition(13)).collect()(0)
    val c = Features.checksum(
      base.orderBy(org.apache.spark.sql.functions.col("o_totalprice"))).collect()(0)
    assert(a.getAs[java.math.BigDecimal]("checksum")
      .compareTo(b.getAs[java.math.BigDecimal]("checksum")) == 0)
    assert(a.getAs[java.math.BigDecimal]("checksum")
      .compareTo(c.getAs[java.math.BigDecimal]("checksum")) == 0)
    assert(a.getAs[Long]("n_rows") === b.getAs[Long]("n_rows"))
    // and it actually detects a difference
    val d = Features.checksum(base.limit(base.count().toInt - 1)).collect()(0)
    assert(a.getAs[java.math.BigDecimal]("checksum")
      .compareTo(d.getAs[java.math.BigDecimal]("checksum")) != 0)
  }

  test("q154: oriented triangle count equals brute-force enumeration") {
    import org.apache.spark.sql.functions.col
    val row = Features.q154Triangles(spark, sf).collect()(0)
    // brute force: undirected edge set, count unordered triples
    val li = graft.Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_partkey")).distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val byOrder = li.groupBy(_._1).values
    val edges = byOrder.flatMap { items =>
      val ps = items.map(_._2).distinct.sorted
      for (i <- ps.indices; j <- i + 1 until ps.length) yield (ps(i), ps(j))
    }.toSet
    val nodes = edges.flatMap(e => Seq(e._1, e._2))
    val adj = edges.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    val brute = edges.toSeq.map { case (a, b) =>
      adj.getOrElse(a, Set.empty).count(c => b < c && edges.contains((b, c)))
    }.sum
    assert(row.getAs[Long]("n_triangles") === brute)
    assert(row.getAs[Long]("n_edges") === edges.size)
    assert(row.getAs[Long]("n_nodes") === nodes.size)
    // the distributed pipeline must agree with the in-task kernel on
    // both of its closing-probe transports, and each must really run:
    // the broadcast probe the small fixture takes, and the big-graph
    // shuffle join behind a byte-capped Bloom prune
    val bcastProbe = "BroadcastHashJoin [bc#"
    SparkTestSession.distributed(hintedBroadcastsOnly {
      val bcast = Features.q154Triangles(spark, sf)
      assert(bcast.collect()(0) === row, "broadcast path diverged")
      val bplan = bcast.queryExecution.executedPlan.toString
      assert(bplan.contains(bcastProbe), bplan)
      assert(!bplan.contains("bloommightcontainlong"), bplan)
      val bloom = Features.q154Triangles(spark, sf, broadcastEdges = 0)
      assert(bloom.collect()(0) === row, "bloom/shuffle path diverged")
      val splan = bloom.queryExecution.executedPlan.toString
      assert(splan.contains("bloommightcontainlong"), splan)
      assert(splan.contains("hashpartitioning(bc#"), splan)
      assert(!splan.contains(bcastProbe), splan)
    })
  }

  test("q198: coreness fixpoint matches hand-computed cores on a " +
      "clique + pendant path") {
    import spark.implicits._
    // K5 clique (nodes 1-5, coreness 4) with a pendant path 5-6-7-8
    // (coreness 1): the path peels first, the clique survives intact —
    // the two-regime shape threshold peeling cannot report in one pass
    val clique = for (i <- 1 to 5; j <- (i + 1) to 5) yield (i.toLong, j.toLong)
    val path = Seq((5L, 6L), (6L, 7L), (7L, 8L))
    val edges = (clique ++ path).toDF("u", "v")
    // default path at this size: single-task exact peeling
    val hist = Features.corenessHistogram(spark, edges).collect()
      .map(r => (r.getAs[Long]("coreness"), r.getAs[Long]("n_nodes")))
      .toMap
    assert(hist === Map(1L -> 3L, 4L -> 5L), hist)
    // the DISTRIBUTED h-index loop must reach the identical fixpoint —
    // iterated h-index converges to coreness, so the arm switch
    // changes the execution, never the answer — on both per-round
    // transports, each seen in the loop's executed plans: the h frame
    // by broadcast (the default at this size) and by the
    // co-partitioned join (forced by a 0 broadcast ceiling)
    def histOf(maxNodes: Long): (Map[Long, Long], Seq[String]) = {
      var out = Map.empty[Long, Long]
      val plans = executedPlans {
        out = Features.corenessHistogram(spark, edges, maxNodes).collect()
          .map(r => (r.getAs[Long]("coreness"), r.getAs[Long]("n_nodes")))
          .toMap
      }
      (out, plans)
    }
    SparkTestSession.distributed(hintedBroadcastsOnly {
      val (looped, bplans) = histOf(Features.CorenessBroadcastMaxNodes)
      assert(looped === hist, "distributed loop diverged from peel")
      assert(bplans.exists(_.contains("BroadcastHashJoin [nb#")), bplans)
      val (joined, jplans) = histOf(0L)
      assert(joined === hist, "join transport diverged from broadcast")
      assert(jplans.exists(p => p.contains("SortMergeJoin [nb#") ||
        p.contains("ShuffledHashJoin [nb#")), jplans)
      assert(!jplans.exists(_.contains("BroadcastHashJoin [nb#")), jplans)
    })
  }

  test("q198: local peel equals the distributed loop on a random-ish " +
      "synthetic graph (arm-switch equivalence at a non-toy size)") {
    import spark.implicits._
    // deterministic pseudo-random graph: 400 nodes, edges from a
    // quadratic-residue pattern — dense core + sparse fringe
    val edges = (0 until 4000).map { i =>
      val u = (i * i * 7 + i) % 400
      val v = (i * 13 + 5) % 400
      (math.min(u, v).toLong, math.max(u, v).toLong)
    }.filter(e => e._1 != e._2).distinct.toDF("u", "v")
    val local = Features.corenessHistogram(spark, edges).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val dist = SparkTestSession.distributed(
      Features.corenessHistogram(spark, edges).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap)
    assert(local === dist)
    assert(local.values.sum === 400L) // every node reported once
  }

  test("q252: Mood's median test fires on shifted groups, stays " +
      "quiet on identical ones") {
    import spark.implicits._
    // group "hi" sits strictly above the grand median, "lo" below —
    // the maximally significant split
    val shifted = ((1 to 40).map(i => ("lo", (i % 5 + 1).toLong)) ++
      (1 to 40).map(i => ("hi", (i % 5 + 10).toLong)))
      .toDF("flag", "qty")
    val hot = Features.moodMedianFrom(shifted).collect()
    assert(hot.forall(_.getAs[Boolean]("significant")), hot.toSeq)
    assert(hot.map(_.getAs[Long]("median_qty")).distinct.toSeq === Seq(5L))
    // identical distributions: χ² ≈ 0, not significant
    val same = ((1 to 40).map(i => ("a", (i % 7 + 1).toLong)) ++
      (1 to 40).map(i => ("b", (i % 7 + 1).toLong)))
      .toDF("flag", "qty")
    val cold = Features.moodMedianFrom(same).collect()
    assert(cold.forall(!_.getAs[Boolean]("significant")), cold.toSeq)
    assert(cold.forall(_.getAs[Double]("chi2") === 0.0))
  }

  test("q155: projection is linear and deterministic across runs") {
    val a = Features.q155JlProjection(spark, sf).collect()
    val b = Features.q155JlProjection(spark, sf).collect()
    assert(a.length == b.length && a.length ==
      graft.Tables.embeddings(spark, sf).count() * 8)
    assert(a.zip(b).forall { case (x, y) =>
      x.getAs[Long]("p") == y.getAs[Long]("p") })
    // a projected coordinate is a signed sum of |quantized| components,
    // so its magnitude is bounded by the L1 norm in micro-units
    import org.apache.spark.sql.functions._
    val l1 = graft.Tables.embeddings(spark, sf)
      .select(aggregate(transform(col("embedding"),
        e => abs(round(e.cast("double") * 1e6).cast("long"))),
        lit(0L), (acc, x) => acc + x).as("l1"))
      .agg(max("l1")).collect()(0).getLong(0)
    assert(a.forall(r => math.abs(r.getAs[Long]("p")) <= l1))
  }

  test("q156: robust stats bound the data and fences catch the tails") {
    import org.apache.spark.sql.functions._
    val rows = Features.q156RobustScale(spark, sf).collect()
    val n = graft.Tables.events(spark, sf).count()
    assert(rows.map(_.getAs[Long]("n")).sum === n)
    rows.foreach { r =>
      assert(r.getAs[Double]("iqr_v") >= 0.0)
      // Tukey fences at 1.5 IQR keep the bulk: whatever the tail shape,
      // at most 25% of the mass can sit beyond the fences (each fence
      // is ≥ one quartile-width past its quartile)
      assert(r.getAs[Long]("n_outliers") <= r.getAs[Long]("n") / 4)
    }
  }

  test("q157/q158: text roundtrips reproduce the parquet fidelity report") {
    import org.apache.spark.sql.functions._
    val direct = graft.Tables.documents(spark, sf)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col("text")).cast("long")).as("sum_len"),
        min(md5(col("text"))).as("min_md5"))
      .orderBy("lang").collect().toSeq
    assert(TextSources.q157JsonlRoundtrip(spark, sf).collect().toSeq == direct)
    assert(TextSources.q158CsvRoundtrip(spark, sf).collect().toSeq == direct)
  }

  test("q159: EWMA recurrence holds exactly in cents fixed-point") {
    val rows = Features.q159Ewma(spark, sf).collect()
      .map(r => (r.getAs[String]("day"), r.getAs[Double]("revenue"),
        r.getAs[Double]("ewma_decayed"))).sortBy(_._1)
    // decayed sum dominates the day's own revenue, and the recurrence
    // s_t <= rev_t + s_{t-1} (drop-off only removes mass)
    rows.foreach { case (_, rev, s) => assert(s >= rev - 1e-9) }
    rows.sliding(2).foreach {
      case Array((_, _, sPrev), (_, rev, sCur)) =>
        // 1e-3 slack: revenue is 2-dp- and the sums 4-dp-rounded
        assert(sCur <= rev + sPrev / 2 + 1e-3)
      case _ => ()
    }
  }

  test("q160: grid-bucketed interval join equals the brute-force theta join") {
    import org.apache.spark.sql.functions._
    val out = Features.q160IntervalJoin(spark, sf).collect()
      .map(r => r.getAs[Long]("event_id") -> r.getAs[Long]("n_user_days")).toMap
    val ev = graft.Tables.events(spark, sf)
      .select(col("event_id"), col("user_id"), col("event_type"),
        to_date(col("ts")).cast("string").as("day"),
        unix_millis(col("ts").cast("timestamp")).as("ms")).collect()
    val activity = ev.groupBy(r => (r.getAs[Long]("user_id"), r.getAs[String]("day")))
      .map { case (_, rs) =>
        (rs.map(_.getAs[Long]("ms")).min, rs.map(_.getAs[Long]("ms")).max) }
    val brute = ev.filter(_.getAs[String]("event_type") == "error").map { e =>
      val ms = e.getAs[Long]("ms")
      e.getAs[Long]("event_id") ->
        activity.count { case (s0, e0) => s0 <= ms + 1800000L && ms - 1800000L <= e0 }
          .toLong
    }.toMap
    assert(out === brute)
  }

  test("q162: every purchase PIT-joins to exactly one prior status") {
    import org.apache.spark.sql.functions._
    val rows = Features.q162PitJoin(spark, sf).collect()
    val purchases = graft.Tables.events(spark, sf)
      .filter(col("event_type") === "purchase").count()
    assert(rows.map(_.getAs[Long]("n_purchases")).sum === purchases)
    // 'none' bucket == purchases that are their user's very first event
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id")
      .orderBy(col("ts"), col("event_id"))
    val firstPurchases = graft.Tables.events(spark, sf)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1 && col("event_type") === "purchase").count()
    val none = rows.find(_.getAs[String]("prior_status") == "none")
      .map(_.getAs[Long]("n_purchases")).getOrElse(0L)
    assert(none === firstPurchases)
  }

  test("q153: incremental LSH == the full self-join restricted to the batch") {
    val inc = Dedup.q153IncrementalLsh(spark, sf).collect()
      .map(r => (r.getAs[Long]("new_id"), r.getAs[Long]("dup_of"))).toSet
    inc.foreach { case (n, o) => assert(n % 10 == 0 && o % 10 != 0) }
    // the full q42 pair set, restricted to exactly-one-side-in-batch,
    // must equal the incremental result (no lost candidates)
    val full = Dedup.q42MinhashLsh(spark, sf).collect()
      .map(r => (r.getAs[Long]("id1"), r.getAs[Long]("id2")))
    val expected = full.collect {
      case (a, b) if a % 10 == 0 && b % 10 != 0 => (a, b)
      case (a, b) if b % 10 == 0 && a % 10 != 0 => (b, a)
    }.toSet
    assert(inc === expected)
  }

  // Two fully separated samples: every A value (1..20) below every B
  // value (101..120). R1 = 210, so doubled U1 = 2R1 - 2*n1(n1+1)/2 =
  // 420 - 420 = 0 — the no-overlap extreme — and |z| must cross any
  // significance bar. One tied pair inside B (two 110s) exercises the
  // tie-correction term without touching U1.
  test("q222 core: separated samples are significant, U hits zero") {
    import spark.implicits._
    val sample = ((1 to 20).map(v => (true, v.toDouble)) ++
      ((101 to 120).map(v => (false, v.toDouble)) :+ (false, 110.0)))
      .toDF("is_a", "x")
    val r = Features.mannWhitneyFrom(sample).collect().head
    assert(r.getAs[Long]("n1") === 20L)
    assert(r.getAs[Long]("n2") === 21L)
    assert(r.getAs[Double]("u_doubled") === 0.0)
    assert(r.getAs[Double]("z") < -5.0)
    assert(r.getAs[Boolean]("significant"))
  }

  // Shifted-mean samples (A around 100 cents, B around 10100): Welch
  // must flag them; closed-form check on the exact group means. The
  // spread inside each group keeps both variances nonzero.
  test("q236 core: shifted means are significant, equal samples are not") {
    import spark.implicits._
    val shifted = ((1 to 30).map(v => (true, 100L + v)) ++
      (1 to 30).map(v => (false, 10100L + v))).toDF("is_a", "cents")
    val r = Features.welchFrom(shifted).collect().head
    assert(r.getAs[Long]("n1") === 30L)
    assert(r.getAs[Double]("t") < -100.0) // |Δmean|=10000 vs sd≈8.8
    assert(r.getAs[Boolean]("significant"))
    val same = ((1 to 30).map(v => (true, 100L + v)) ++
      (1 to 30).map(v => (false, 100L + v))).toDF("is_a", "cents")
    val r2 = Features.welchFrom(same).collect().head
    assert(r2.getAs[Double]("t") === 0.0)
    assert(!r2.getAs[Boolean]("significant"))
  }

  // Fully separated samples: the empirical CDFs are disjoint, so
  // D = 1 exactly (d_scaled = nA*nB) and any critical bar is crossed.
  // Identical samples give D = 0.
  test("q237 core: separated samples give D=1 significant; " +
      "identical give D=0") {
    import spark.implicits._
    val sep = ((1 to 25).map(v => (true, v.toDouble)) ++
      (1 to 25).map(v => (false, 1000.0 + v))).toDF("is_a", "x")
    val r = Features.ksFrom(sep).collect().head
    assert(r.getAs[Long]("n_a") === 25L)
    assert(r.getAs[Long]("n_b") === 25L)
    assert(r.getAs[Long]("d_scaled") === 625L)
    assert(r.getAs[Double]("d") === 1.0)
    assert(r.getAs[Boolean]("significant"))
    val same = ((1 to 25).map(v => (true, v.toDouble)) ++
      (1 to 25).map(v => (false, v.toDouble))).toDF("is_a", "x")
    val r2 = Features.ksFrom(same).collect().head
    assert(r2.getAs[Long]("d_scaled") === 0L)
    assert(!r2.getAs[Boolean]("significant"))
  }

  // Three groups with separated means: F must fire. Identical groups:
  // SSB = 0 so F = 0. A single group leaves F undefined (NULL), never
  // a division blow-up.
  test("q256 core: ANOVA fires on separated groups, F=0 on identical, " +
      "NULL on one group") {
    import spark.implicits._
    val shifted = ((1 to 30).map(v => ("a", 100L + v % 5)) ++
      (1 to 30).map(v => ("b", 500L + v % 5)) ++
      (1 to 30).map(v => ("c", 900L + v % 5))).toDF("grp", "cents")
    val r = Features.anovaFrom(shifted).collect().head
    assert(r.getAs[Long]("k") === 3L)
    assert(r.getAs[Long]("df1") === 2L)
    assert(r.getAs[Long]("df2") === 87L)
    assert(r.getAs[Double]("f") > 1000.0)
    assert(r.getAs[Boolean]("significant"))
    val same = ((1 to 30).map(v => ("a", 100L + v % 5)) ++
      (1 to 30).map(v => ("b", 100L + v % 5))).toDF("grp", "cents")
    val r2 = Features.anovaFrom(same).collect().head
    assert(r2.getAs[Double]("f") === 0.0)
    assert(!r2.getAs[Boolean]("significant"))
    val one = (1 to 30).map(v => ("a", 100L + v)).toDF("grp", "cents")
    val r3 = Features.anovaFrom(one).collect().head
    assert(r3.isNullAt(r3.fieldIndex("f")))
    assert(r3.isNullAt(r3.fieldIndex("significant")))
  }

  // Fully separated samples: every A value beats every B value, so
  // Cliff's delta is exactly +1 (pure dominance) and the magnitude is
  // "large"; Cohen's d is large-positive. Identical samples: both
  // effect sizes are exactly 0 and "negligible".
  test("q257 core: separated samples give delta=+1 large; identical " +
      "give 0 negligible") {
    import spark.implicits._
    val sep = ((1 to 25).map(v => (true, 100L + v % 5)) ++
      (1 to 25).map(v => (false, v.toLong % 5))).toDF("is_a", "qty")
    val r = Features.effectSizesFrom(sep).collect().head
    assert(r.getAs[Long]("n1") === 25L)
    assert(r.getAs[Double]("cliffs_delta") === 1.0)
    assert(r.getAs[Double]("cohens_d") > 10.0)
    assert(r.getAs[String]("magnitude") === "large")
    val same = ((1 to 25).map(v => (true, v.toLong % 7)) ++
      (1 to 25).map(v => (false, v.toLong % 7))).toDF("is_a", "qty")
    val r2 = Features.effectSizesFrom(same).collect().head
    assert(r2.getAs[Double]("cliffs_delta") === 0.0)
    assert(r2.getAs[Double]("cohens_d") === 0.0)
    assert(r2.getAs[String]("magnitude") === "negligible")
  }

  // The 29% breakdown point is the estimator's reason to exist: on a
  // perfect line the slope/intercept are recovered exactly, and
  // corrupting ONE point by 10^6x leaves the Theil-Sen slope EXACTLY
  // unchanged (the median of pairwise slopes steps over the outlier
  // pairs), where the OLS slope on the same data moves by orders of
  // magnitude.
  test("q258 core: exact on a line; one massive outlier cannot move " +
      "the slope") {
    import spark.implicits._
    val line = (1 to 24).map(x => (x.toLong, 3L * x + 5L)).toDF("x", "y")
    val r = Features.theilSenFrom(line).collect().head
    assert(r.getAs[Long]("n_months") === 24L)
    assert(r.getAs[Long]("n_pairs") === 276L)
    assert(r.getAs[Double]("slope_per_month") === 3.0)
    assert(r.getAs[Double]("intercept_cents") === 5.0)
    assert(r.getAs[String]("direction") === "up")
    val corrupted = (1 to 24).map(x =>
      (x.toLong, if (x == 12) 1000000000L else 3L * x + 5L))
      .toDF("x", "y")
    val r2 = Features.theilSenFrom(corrupted).collect().head
    assert(r2.getAs[Double]("slope_per_month") === 3.0)
    // single point: no pairs, defined NULL output
    val single = Seq((1L, 10L)).toDF("x", "y")
    val r3 = Features.theilSenFrom(single).collect().head
    assert(r3.getAs[Long]("n_months") === 1L)
    assert(r3.getAs[Long]("n_pairs") === 0L)
    assert(r3.isNullAt(r3.fieldIndex("slope_per_month")))
  }

  // K4 + pendant edge: closed-form cc — K4 corners not holding the
  // pendant have cc=1, the pendant anchor has cc=0.5 (3 triangles over
  // C(4,2)=6 wedges), the degree-1 pendant is excluded. Mean local cc
  // (0.875) and transitivity (12/15=0.8) must DIFFER — the two
  // statistics the query deliberately reports side by side. Both
  // probe transports (broadcast / shuffle) must agree.
  test("q259: closed-form clustering coefficients on K4 + pendant") {
    import spark.implicits._
    val k4 = for (i <- 1 to 4; j <- (i + 1) to 4) yield (i.toLong, j.toLong)
    val edges = (k4 :+ (4L, 5L)).toDF("u", "v")
    val (deg, oriented) = Features.degreeOriented(edges)
    val r = Features.clusteringSummary(spark, deg, oriented).collect().head
    assert(r.getAs[Long]("n_nodes") === 4L)
    assert(r.getAs[Long]("n_triangles") === 4L)
    assert(r.getAs[Double]("avg_cc") === 0.875)
    assert(r.getAs[Double]("global_cc") === 0.8)
    val r2 = Features.clusteringSummary(spark, deg, oriented,
      broadcastEdges = 0).collect().head
    assert(r2 === r, "shuffle transport diverged from broadcast")
  }
}
