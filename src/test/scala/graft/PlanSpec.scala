// Copyright (c) 2026 graft contributors
// SPDX-License-Identifier: Apache-2.0

package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Relational

/** Physical-plan assertions: the properties that make these queries
  * scale must survive refactors — filters reach the parquet scan,
  * projections prune columns, dimension joins broadcast.
  */
class PlanSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("q1: shipdate filter is pushed into the parquet scan") {
    val plan = planOf(Relational.q1PricingSummary(spark, sf))
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"))
  }

  test("q1: scan reads only the needed columns") {
    val plan = planOf(Relational.q1PricingSummary(spark, sf))
    val readSchema = plan.linesIterator
      .find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_orderkey"), readSchema)
    assert(!readSchema.contains("l_partkey"), readSchema)
  }

  test("q5: all dimension joins broadcast; the fact side never shuffles for a join") {
    val plan = planOf(Relational.q5NationRevenue(spark, sf))
    assert(plan.contains("BroadcastHashJoin"))
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("q13: part joins as broadcast") {
    val plan = planOf(Relational.q13BrandRevenue(spark, sf))
    assert(plan.contains("BroadcastHashJoin"))
  }

  test("q44: exact near-dup pairs join on block keys, never a nested loop") {
    val plan = planOf(graft.ops.Similarity.q44EmbeddingNearDup(spark, sf))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q297/q298: the mining grid BROADCASTS its bounded side (the " +
      "q45 contract — never a shuffle cartesian) and every ranking " +
      "window is key-partitioned") {
    for (df <- Seq(graft.ops.Similarity.q297BitextMining(spark, sf),
        graft.ops.Similarity.q298HardNegatives(spark, sf))) {
      val plan = planOf(df)
      // the grid is an intentional bounded-Q cross join; its legal
      // physical form is broadcast-nested-loop (candidates broadcast),
      // never a non-broadcast CartesianProduct
      assert(plan.contains("BroadcastNestedLoopJoin"), plan)
      assert(!plan.contains("CartesianProduct"), plan)
      import org.apache.spark.sql.execution.window.WindowExec
      val unpartitioned = df.queryExecution.executedPlan.collect {
        case w: WindowExec if w.partitionSpec.isEmpty => w
      }
      assert(unpartitioned.isEmpty,
        s"single-partition window found:\n${unpartitioned.mkString("\n")}")
    }
  }

  test("q180: semdedup pairs join on cell keys and centroids broadcast — " +
      "never a nested loop") {
    val plan = planOf(graft.ops.Dedup.q180SemDedup(spark, sf))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    // The CENTROID join specifically must broadcast: it is the only
    // join keyed on [cell] alone (the block-grid joins key on blk/p1/p2
    // and the pair join on cell+p1+p2), so a BroadcastHashJoin with
    // both key lists exactly [cell#N] proves the 2^bits-row centroid
    // table broadcast — a generic "some BroadcastHashJoin exists"
    // would be satisfied by the grid join even if centroids regressed
    // to a shuffle.
    val centJoin = """BroadcastHashJoin \[cell#\d+L?\], \[cell#\d+L?\], Inner""".r
    assert(centJoin.findFirstIn(plan).isDefined, plan)
    assert(!plan.contains("SortMergeJoin [cell#"), plan)
  }

  test("q181/q182/q183: correlated subqueries decorrelate to joins — " +
      "no subquery execution survives in the physical plan") {
    // q181 (Q21 shape): EXISTS → LeftSemi, NOT EXISTS → LeftAnti, both
    // carrying the non-equality correlated predicate as join condition
    val p181 = planOf(Relational.q181WaitingSuppliers(spark, sf))
    assert(!p181.toLowerCase.contains("subquery"), p181)
    assert(p181.contains("LeftSemi"), p181)
    assert(p181.contains("LeftAnti"), p181)
    assert(p181.contains("NOT (l_suppkey"), p181) // non-equi pred in the join
    assert(!p181.contains("CartesianProduct"), p181)

    // q182 (Q17 shape): the correlated scalar avg becomes ONE grouped
    // aggregate of lineitem joined back on l_partkey — the `<`
    // threshold rides the join condition, and no per-row subquery node
    // remains
    val p182 = planOf(Relational.q182SmallQuantityRevenue(spark, sf))
    assert(!p182.toLowerCase.contains("subquery"), p182)
    assert(p182.contains("avg(l_quantity)"), p182)
    assert("""FileScan parquet""".r.findAllIn(p182).size <= 3, p182)

    // q183 (Q20 shape): outer IN → LeftSemi on s_suppkey; inner
    // correlated scalar in HAVING → per-part sum joined on l_partkey
    val p183 = planOf(Relational.q183DominantSuppliers(spark, sf))
    assert(!p183.toLowerCase.contains("subquery"), p183)
    assert(p183.contains("LeftSemi"), p183)
    assert(p183.contains("sum(l_quantity)"), p183)
  }

  test("q186: uncorrelated scalar threshold executes once; NOT EXISTS " +
      "decorrelates to a left-anti join") {
    val plan = planOf(Relational.q186DormantCustomers(spark, sf))
    // The global-average threshold is the one subquery ALLOWED to
    // survive physically — as a scalar-subquery node that runs exactly
    // once and feeds the filter as a constant. What must NOT appear is
    // a per-row shape: no nested-loop join carrying the threshold, and
    // the correlated NOT EXISTS must be fully rewritten (left-anti on
    // c_custkey), leaving the scalar as the only subquery reference.
    assert(plan.contains("LeftAnti"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    // exactly ONE distinct physical subquery (the threshold, a
    // once-executed init-time scalar) — not one per row, not one per
    // reference. Asserted on the plan TREE, not the rendered text:
    // across suite orderings the same subquery has appeared labeled
    // "subquery#N", "scalar-subquery#N", and under a second exprId
    // cloned into the scan's pushed DataFilter, so id-text counting is
    // unstable; canonicalized SubqueryExec identity is what actually
    // states "this computes once" (clones of a reused subquery
    // canonicalize equal).
    // The threshold must survive as an init-time scalar subquery (at
    // least one), never as a per-row shape. Across planning modes the
    // SAME once-per-query scalar appears as: one id (AQE, labeled
    // "subquery#N", reused into the scan filter), or two ids (non-AQE:
    // the pushed parquet DataFilter gets a cloned "scalar-subquery#M"
    // that also executes once, at scan init). Both are constant-cost;
    // a per-row regression would instead surface as the BNLJ/
    // CartesianProduct the asserts above forbid, so the id count is
    // bounded, not pinned.
    val ids = """Subquery (scalar-)?subquery#\d+""".r.findAllIn(plan).toSet
    assert(ids.nonEmpty, plan)
    assert(ids.size <= 2, plan)
  }

  test("q75: band join executes as an equi join on bucket, never a nested loop") {
    val plan = planOf(graft.ops.EventsOps.q75BandJoin(spark, sf))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("bucket"), plan) // the equi key the band hashes to
  }

  test("q87: bloom prune evaluates as a native predicate before the semi join") {
    val df = Relational.q87BloomPrunedJoin(spark, sf)
    val plan = planOf(df).toLowerCase
    val filterIdx = plan.indexOf("bloommightcontain")
    assert(filterIdx >= 0, plan)
    assert(!plan.contains("scalaudf"), plan)
  }

  test("q60: centroid aggregation is pure codegen — no UDF, no interpreted HOF") {
    val plan = planOf(graft.ops.Vectors.q60LabelCentroids(spark, sf))
    assert(!plan.contains("BatchEvalPython"), plan)
    assert(!plan.contains("ScalaUDF"), plan)
    // transform/aggregate lambdas appear as these operator names when
    // the interpreted higher-order path is used
    assert(!plan.contains("ArrayTransform"), plan)
    assert(!plan.contains("ArrayAggregate"), plan)
    assert(plan.contains("HashAggregate"), plan)
  }

  test("q61: pinned-value pivot pre-aggregates before the pivot exchange") {
    val df = Relational.q61PivotDaily(spark, sf)
    val plan = planOf(df)
    // pivot with explicit values: no value-discovery distinct job, and
    // the plan's second exchange moves only the (day, type) pre-agg —
    // partial_count must appear BELOW the first exchange so the raw
    // scan is reduced map-side
    assert(!plan.contains("Expand"), plan)
    assert(plan.contains("pivotfirst"), plan)
    assert(plan.contains("partial_count"), plan)
    val aggExchanges = plan.linesIterator
      .filter(_.contains("Exchange hashpartitioning")).size
    assert(aggExchanges <= 2, plan)
  }

  test("q64: native session_window shuffles once on the user key") {
    val plan = planOf(Relational.q64SessionWindow(spark, sf))
    assert(plan.contains("SessionWindow") || plan.contains("session_window"), plan)
    val hashExchanges = plan.linesIterator
      .filter(_.contains("Exchange hashpartitioning")).size
    assert(hashExchanges <= 2, plan) // session agg + seq-numbering window
  }

  test("q103: stratification has no global sort/window; boundaries broadcast") {
    val plan = planOf(graft.ops.Sampling.q103QualityStrata(spark, sf))
    // the percentile boundaries must come back as a broadcast 1-row
    // frame, never via a global ntile window (single-task at 100 TB)
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("Window"), plan)
    // the only total sort is the final 5-row report ordering
    val sorts = plan.linesIterator.filter(_.trim.startsWith("+- Sort")).size
    assert(sorts <= 1, plan)
  }

  test("q104: extraction runs through variant expressions, parsed once") {
    val plan = planOf(Relational.q104VariantProps(spark, sf))
    assert(plan.contains("parseJson") || plan.contains("parse_json"), plan)
    assert(plan.contains("variant_get") || plan.contains("VariantGet"), plan)
  }

  test("q106: moment statistics aggregate in one exchange, no window") {
    val plan = planOf(graft.ops.Profiling.q106StatsProfile(spark, sf))
    val exchanges = plan.linesIterator
      .filter(_.contains("Exchange hashpartitioning")).size
    assert(exchanges <= 1, plan)
    assert(!plan.contains("Window"), plan)
  }

  test("q107: the composite filter is one scan ending in one aggregate " +
      "exchange") {
    val plan = planOf(graft.ops.CorpusHygiene.q107C4Filter(spark, sf))
    val scans = plan.linesIterator.filter(_.contains("FileScan parquet")).size
    assert(scans == 1, plan)
    val exchanges = plan.linesIterator
      .filter(_.contains("Exchange hashpartitioning")).size
    assert(exchanges <= 1, plan)
  }

  test("q111: N expectation rules still cost exactly one scan") {
    val plan = planOf(graft.ops.Profiling.q111Expectations(spark, sf))
    val scans = plan.linesIterator.filter(_.contains("FileScan parquet")).size
    assert(scans == 1, plan)
  }

  test("q112: candidate recount joins via broadcast, never a shuffle join") {
    val plan = planOf(graft.ops.HeavyHitters.q112HeavyHitters(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("q73: the packing prefix sum carries no unpartitioned window") {
    val plan = graft.ops.Chunking.q73Packing(spark, sf)
      .queryExecution.executedPlan
    import org.apache.spark.sql.execution.window.WindowExec
    val unpartitioned = plan.collect {
      case w: WindowExec if w.partitionSpec.isEmpty => w
    }
    assert(unpartitioned.isEmpty,
      s"single-partition window found:\n${unpartitioned.mkString("\n")}")
  }

  test("q130: set-similarity join never degenerates to a cross product") {
    val plan = planOf(graft.ops.Dedup.q130SetSimJoin(spark, sf))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q114: the spine join sees aggregated days, not raw events") {
    val plan = planOf(graft.ops.EventsOps.q114GapFill(spark, sf))
    // LOCF windows over the spine grid; the raw-event frame must be
    // aggregated (HashAggregate below the join) before joining
    assert(plan.contains("HashAggregate"), plan)
    assert(plan.contains("Window"), plan)
  }

  test("q142: the global top-k is a distributed TakeOrdered, stats broadcast") {
    val plan = planOf(graft.ops.TextAnalysis.q142Bm25TopK(spark, sf))
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(plan.contains("BroadcastExchange"), plan)
    assert(!plan.contains("BatchEvalPython"), plan)
    assert(!plan.contains("ScalaUDF"), plan)
  }

  test("q146: each PageRank step joins edges to a broadcast rank vector") {
    val plan = planOf(Relational.q146PagerankTrade(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q160: the interval join meets on grid buckets, never a nested loop") {
    val plan = planOf(graft.ops.Features.q160IntervalJoin(spark, sf))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q154: triangle wedges join on src equi-keys, no cartesian") {
    // pin the DISTRIBUTED arm (the 100 TB plan this test guards);
    // the in-task arm's plan is a bare LocalRelation by construction
    val plan = SparkTestSession.distributed(
      planOf(graft.ops.Features.q154Triangles(spark, sf)))
    assert(!plan.contains("CartesianProduct"), plan)
    // the wedge join must be an equi join on src (the orientation's
    // whole point); the only nested-loop joins are the three 1-row
    // count scalars at the top
    assert(plan.contains("Join [src"), plan)
    // the oriented edge derivation is cut once — the checkpointed scan
    // replaces the 5x re-derivation (no parquet re-scan per reference)
    assert(plan.contains("Scan ExistingRDD"), plan)
    // small graph (|E| ≤ the broadcast cap): the closing join must be
    // a broadcast probe inside the wedge stage — the wedge stream
    // (Σ out-deg² rows) must never reach an exchange
    assert(plan.contains("BroadcastHashJoin [bc"), plan)
  }

  test("q155: the projection matrix broadcasts; no UDF in the pipeline") {
    val plan = planOf(graft.ops.Features.q155JlProjection(spark, sf))
    assert(plan.contains("BroadcastExchange"), plan)
    assert(!plan.contains("ScalaUDF"), plan)
  }

  test("q152: the checksum aggregate is one scan with partial aggregation") {
    val plan = planOf(graft.ops.Features.q152TableChecksum(spark, sf))
    // each branch: partial HashAggregate -> single-partition final; the
    // fingerprint sum must map-side combine (no Exchange carrying rows)
    assert(plan.contains("HashAggregate"), plan)
    assert(!plan.contains("SortAggregate"), plan)
  }

  test("q169: the query set broadcasts; the corpus never shuffles for the join") {
    val plan = planOf(graft.ops.Similarity.q169Maxsim(spark, sf))
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"), plan)
    // both reductions (max per (label, qid), sum per label) partial-agg
    assert(plan.contains("HashAggregate"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("q187: ADC probes and the re-rank query set broadcast; the corpus " +
      "index never sort-merge-joins") {
    val plan = planOf(graft.ops.Similarity.ivfPqTop5(spark, sf))
    // cell routing: the (qid, cell) probe table joins the coded corpus
    // as a broadcast hash join — the corpus side stays put
    assert(plan.contains("BroadcastHashJoin"), plan)
    // nothing in the ADC pipeline may degenerate to a shuffle join or
    // a cross product; the only allowed exchanges are the broadcasts
    // and the bounded per-qid window repartitions
    assert(!plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("q170: the dictionary encode is a broadcast join; rows never shuffle") {
    val plan = planOf(graft.ops.Features.q170StringIndexer(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("q174: argmin is one aggregate — no window, no join-back to lineitem") {
    val plan = planOf(Relational.q174ArgminJoin(spark, sf))
    assert(!plan.contains("Window"), plan)
    // dims broadcast; the only shuffle keys on the group-by
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    // exactly one scan of lineitem (a join-back shape would need two)
    val lineitemScans = plan.linesIterator
      .count(l => l.contains("Scan parquet") && l.contains("lineitem"))
    assert(lineitemScans === 1, s"lineitem scanned $lineitemScans times")
  }

  test("q167: the PPS prefix sum is shard-partitioned, never one task") {
    val plan = planOf(graft.ops.Sampling.q167PpsSample(spark, sf))
    // the q73 rule: the running sum must be a partitioned window (the
    // single-partition form logs "No Partition Defined" and collapses
    // to one task at scale)
    val winLines = plan.linesIterator.filter(_.contains("Window")).toSeq
    assert(winLines.forall(_.contains("shard")), winLines.mkString("\n"))
  }

  test("q222: the Mann-Whitney midrank window is shard-partitioned") {
    val plan = graft.ops.Features.q222MannWhitney(spark, sf)
      .queryExecution.executedPlan
    import org.apache.spark.sql.execution.window.WindowExec
    val unpartitioned = plan.collect {
      case w: WindowExec if w.partitionSpec.isEmpty => w
    }
    assert(unpartitioned.isEmpty,
      s"single-partition window found:\n${unpartitioned.mkString("\n")}")
  }

  test("q237/q238/q239: every corpus-scale prefix window is " +
      "shard-partitioned") {
    import org.apache.spark.sql.execution.window.WindowExec
    // q238's quantity window is a bounded integer domain (≤50 rows) —
    // exempt by the q165/q197 rule; everything value-domain-sized must
    // carry a shard in its partition spec
    for ((name, df) <- Seq(
        "q237" -> graft.ops.Features.q237KsTest(spark, sf),
        "q239" -> graft.ops.Features.q239Gini(spark, sf))) {
      val unpartitioned = df.queryExecution.executedPlan.collect {
        case w: WindowExec if w.partitionSpec.isEmpty => w
      }
      assert(unpartitioned.isEmpty,
        s"$name: single-partition window:\n${unpartitioned.mkString("\n")}")
    }
    val spearman = graft.ops.Features.q238Spearman(spark, sf)
      .queryExecution.executedPlan
    val globalWindows = spearman.collect {
      case w: WindowExec if w.partitionSpec.isEmpty => w
    }
    // exactly the bounded-domain quantity window may be global
    assert(globalWindows.size <= 1, globalWindows.mkString("\n"))
    val plan = spearman.toString
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q213: the rank cut is the TopKPerGroup operator, partial+final") {
    val plan = planOf(graft.ops.Similarity.q213NdcgAtK(spark, sf))
    // two instances: the pre-exchange partial heap and the final —
    // the property that bounds the shuffle at O(partitions·queries·k)
    val hits = "TopKPerGroup".r.findAllIn(plan).length
    assert(hits >= 2, plan)
  }

  test("q218: wedge and scoring joins are equi joins, never a cross") {
    val plan = planOf(graft.ops.Features.q218LinkPrediction(spark, sf))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("q221: the lag self-join is an equi join on exploded offsets") {
    val plan = planOf(graft.ops.Features.q221Acf(spark, sf))
    assert(!plan.contains("CartesianProduct"), plan)
    // the only nested-loop allowed is the 1-row stats broadcast cross
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("q231: one pass — the replicate fan-out adds no join at all") {
    val plan = planOf(graft.ops.Features.q231PoissonBootstrap(spark, sf))
    assert(plan.contains("Generate explode"), plan)   // per-row fan-out
    assert(!plan.contains("SortMergeJoin"), plan)     // CI join broadcasts
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q256/q257: moment statistics stay one-scan aggregates — no " +
      "window, no UDF; the effect-size histogram cross is the only " +
      "(domain-bounded) nested loop") {
    val p256 = planOf(graft.ops.Features.q256AnovaF(spark, sf))
    assert(!p256.contains("Window"), p256)
    assert(!p256.contains("BatchEvalPython") && !p256.contains("UDF"), p256)
    assert(!p256.contains("CartesianProduct"), p256)
    val p257 = planOf(graft.ops.Features.q257EffectSizes(spark, sf))
    assert(!p257.contains("Window"), p257)
    // the ≤50×50 histogram cross join is intentional and bounded by
    // the value DOMAIN, not the corpus — it must be the broadcast
    // nested loop, never a shuffled cartesian
    assert(!p257.contains("CartesianProduct"), p257)
  }

  test("q260: containment join runs on shingle-hash keys, never a " +
      "doc-by-doc product, and the directed explode adds no join") {
    val plan = planOf(graft.ops.Dedup.q260Containment(spark, sf))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("Generate explode"), plan)
  }

  test("q261: the entropy profile is one scan into one aggregate — " +
      "no explode, no per-char shuffle, no UDF") {
    val plan = planOf(
      graft.ops.TextAnalysis.q261CharClassEntropy(spark, sf))
    assert(!plan.contains("Generate"), plan)
    assert(!plan.contains("BatchEvalPython") && !plan.contains("UDF"), plan)
    assert(!plan.contains("Window"), plan)
  }

  test("q264: fuzzy matching joins on block keys (no cross product) " +
      "and the scorer is the native expression, not a UDF") {
    val plan = planOf(graft.ops.Dedup.q264JaroWinklerMatch(spark, sf))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BatchEvalPython") && !plan.contains("UDF"), plan)
    assert(plan.contains("jarowinkler") || plan.contains("JaroWinkler"),
      plan)
  }

  test("q281: bigram scoring joins ride broadcasts of the " +
      "vocabulary-bounded LM tables — no corpus-side shuffle join, " +
      "no UDF, no window") {
    val plan = planOf(
      graft.ops.TextAnalysis.q281BigramLmFilter(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("BatchEvalPython") && !plan.contains("UDF"), plan)
    assert(!plan.contains("Window"), plan)
  }

  test("q282: the UniMax aggregate is one scan with partial " +
      "aggregation — no join, no window, no explode on the fold side") {
    // the fold itself is driver-side over <= #languages rows; the
    // distributed part must stay a single map-side-combinable agg
    val plan = graft.Tables.documents(spark, sf)
      .groupBy("lang")
      .agg(org.apache.spark.sql.functions.sum(
        org.apache.spark.sql.functions.size(
          graft.functions.Text.tokens(
            org.apache.spark.sql.functions.col("text")))))
      .queryExecution.executedPlan.toString
    assert(plan.contains("HashAggregate"), plan)
    assert(!plan.contains("Join"), plan)
  }
}
