// Copyright (c) 2026 graft contributors
// SPDX-License-Identifier: Apache-2.0

package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables._

/** Deterministic dataset splitting for training pipelines ([EXT]
  * surface). Membership is a pure function of the stable document id —
  * `md5(doc_id)` hex prefix compared against fixed thresholds — so the
  * split is reproducible across runs, engines, and data layouts, needs
  * no RNG state or shuffle, survives incremental ingest (a new document
  * lands in one split forever), and is embarrassingly parallel at any
  * scale. This is how production corpora pin eval sets; `randomSplit`
  * (used where the REFERENCE shards work, Extract.scala) is
  * partition-order-sensitive and unsuitable for persistent splits.
  *
  * Thresholds: first two hex digits of md5 ≈ uniform over 0..255;
  * `< "cd"` (205/256 ≈ 80.1%) → train, `< "e6"` (230/256 ≈ 89.8%) →
  * val, rest → test. Hex-string comparison keeps both engines
  * bit-identical with no hex→int conversion.
  */
object Sampling extends graft.Gates {

  private def splitCol = {
    val bucket = substring(
      md5(col("doc_id").cast("string").cast("binary")), 1, 2)
    when(bucket < "cd", "train")
      .when(bucket < "e6", "val")
      .otherwise("test")
  }

  /** Per-(lang, split) composition of the corpus — the stratification
    * report a training-mix pipeline monitors.
    */
  def q59HashSplit(s: SparkSession, dir: String): DataFrame =
    documents(s, dir)
      .withColumn("split", splitCol)
      .groupBy("lang", "split")
      .agg(count(lit(1)).as("n"), min("doc_id").as("first_doc"))
      .orderBy("lang", "split")

  val q59Oracle: String =
    """WITH d AS (
      |  SELECT doc_id, lang,
      |    CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cd'
      |           THEN 'train'
      |         WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6'
      |           THEN 'val'
      |         ELSE 'test' END AS split
      |  FROM documents)
      |SELECT lang, split, count(*) AS n, min(doc_id) AS first_doc
      |FROM d
      |GROUP BY lang, split
      |ORDER BY lang, split""".stripMargin

  /** Per-document assignment (the thing a pipeline joins on). */
  def assignSplits(df: DataFrame): DataFrame =
    df.withColumn("split", splitCol)

  /** Per-group capped sampling — "at most K documents per language",
    * the domain-balancing step that stops one source from dominating
    * a training mix. Deterministic: rank within each group by
    * md5(doc_id) (a stable pseudo-random order — same order every
    * run, every engine, any partitioning) and keep rank ≤ K.
    *
    * One shuffle on the group key; rank is a window row_number, which
    * at 100 TB sorts only within each group's partitions. Skewed
    * groups (one lang = half the corpus) are the known hazard; the
    * remedy at scale is two-phase: pre-filter with a per-partition
    * cap (any partition contributes at most K) before the global
    * window — here groups are modest so the single window is the
    * honest plan.
    */
  def q78CappedSample(s: SparkSession, dir: String): DataFrame = {
    val k = 30
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("lang")
      .orderBy(md5(col("doc_id").cast("string").cast("binary")),
        col("doc_id"))
    documents(s, dir)
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select(col("lang"), col("rk"), col("doc_id"))
      .orderBy("lang", "rk")
  }

  val q78Oracle: String =
    """WITH ranked AS (
      |  SELECT lang, doc_id,
      |    row_number() OVER (PARTITION BY lang
      |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
      |  FROM documents)
      |SELECT lang, CAST(rk AS BIGINT) AS rk, doc_id
      |FROM ranked WHERE rk <= 30
      |ORDER BY lang, rk""".stripMargin

  /** Corpus mixing by per-source weight — the "2 epochs of wiki, 0.25
    * of web-crawl" step that turns raw corpora into a training mix.
    * Down-weighting is a deterministic hash threshold per document
    * (same md5-prefix device as [[q59HashSplit]]): weight 1.0 keeps
    * everything, 0.5 keeps md5-prefix < '80', 0.25 < '40'. Membership
    * is a pure function of (source weight, doc_id) — reproducible
    * across runs/engines, stable under incremental ingest, zero
    * coordination. One narrow scan + one aggregate for the report.
    */
  def q89TrainingMix(s: SparkSession, dir: String): DataFrame = {
    // try_cast: an unrecognized source name (no numeric suffix) falls
    // into the lowest-weight tier instead of failing the ANSI cast
    val srcNum = expr("try_cast(substring(source, 4, 10) AS int)")
    // threshold on the first two md5 hex chars; hex digits are all
    // < 'zz', so 'zz' means keep-all
    val threshold = when(srcNum < 5, "zz")
      .when(srcNum < 10, "80")
      .otherwise("40")
    val weight = when(srcNum < 5, "1.0")
      .when(srcNum < 10, "0.5")
      .otherwise("0.25")
    documents(s, dir)
      .withColumn("w", weight)
      .filter(substring(
        md5(col("doc_id").cast("string").cast("binary")), 1, 2) < threshold)
      .groupBy(col("source"), col("w"))
      .agg(count(lit(1)).as("n_kept"), min("doc_id").as("first_doc"))
      .orderBy("source")
  }

  val q89Oracle: String =
    """WITH d AS (
      |  SELECT source, doc_id,
      |    TRY_CAST(substr(source, 4) AS INT) AS sn,
      |    substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS hx
      |  FROM documents)
      |SELECT source,
      |  CASE WHEN sn < 5 THEN '1.0' WHEN sn < 10 THEN '0.5'
      |       ELSE '0.25' END AS w,
      |  count(*) AS n_kept, min(doc_id) AS first_doc
      |FROM d
      |WHERE hx < CASE WHEN sn < 5 THEN 'zz' WHEN sn < 10 THEN '80'
      |                ELSE '40' END
      |GROUP BY source, w
      |ORDER BY source""".stripMargin

  /** Deterministic sharded export: the final hop of a training
    * pipeline — write the corpus as N hash-keyed shards (here 16, by
    * the first md5 hex char of doc_id), then READ THE EXPORT BACK for
    * the manifest, so the write, the partition layout, and partition-
    * column discovery are all load-bearing for the oracle match.
    * Hash sharding means a doc's shard never changes as the corpus
    * grows (incremental export appends to the same shard), and
    * repartitioning on the shard value bounds output at one file per
    * shard per write.
    */
  /** Quality-stratified corpus sampling — the step that turns a raw
    * corpus plus a quality score into a training mix biased toward
    * high-quality text (the CCNet/LLaMA "keep the best quintile whole,
    * thin the tail" recipe). Composition of two existing primitives:
    * the q31-family heuristic quality signal (stopword ratio — the
    * C4-style "does this read like prose" score, one narrow codegen'd
    * scan, no corpus-level join) supplies per-document quality; the
    * deterministic md5-prefix threshold (q89) supplies per-stratum
    * down-weighting (quintile 1 keeps all, then 0.75 / 0.5 / 0.25 /
    * ~0.1). Membership is a pure function of (score distribution,
    * doc_id) — reproducible and stable under re-runs.
    *
    * Scale design: strata come from score PERCENTILE BOUNDARIES (a
    * 1-row aggregate broadcast back onto the corpus), NOT from a
    * global ntile window, which would single-task a 100 TB sort.
    * Boundaries are exact interpolated percentiles (`percentile` ≡
    * DuckDB `quantile_cont`, the q65 precedent), rounded to 6 dp on
    * both sides; scores are 4-dp-quantized exact integer ratios and
    * boundaries land on the 5-dp interpolation grid, so stratum
    * assignment cannot flip on sub-ulp differences. The per-stratum
    * mean sums DECIMAL-cast scores — order-independent, hash-stable.
    */
  def q103QualityStrata(s: SparkSession, dir: String): DataFrame = {
    val stop = Seq("the", "a", "of", "and", "is", "in", "to")
    val scored = documents(s, dir)
      .withColumn("ws", graft.functions.Text.tokens(col("text")))
      .select(col("doc_id"),
        // greatest(·,1): a zero-word doc (whitespace-only text) scores
        // 0 instead of dividing by zero; identical otherwise
        round(size(filter(col("ws"),
          w => stop.map(w === lit(_)).reduce(_ || _)))
          .cast("double") / greatest(size(col("ws")), lit(1)), 4)
          .as("score"))
    // boundaries stay a (broadcast) 1-row frame rather than a driver
    // collect: the whole query is ONE action and the shape mirrors
    // the oracle's CROSS JOIN
    val b = scored.agg(
      round(expr("percentile(score, 0.8)"), 6).as("b1"),
      round(expr("percentile(score, 0.6)"), 6).as("b2"),
      round(expr("percentile(score, 0.4)"), 6).as("b3"),
      round(expr("percentile(score, 0.2)"), 6).as("b4"))
    val stratum = when(col("score") >= col("b1"), 1)
      .when(col("score") >= col("b2"), 2)
      .when(col("score") >= col("b3"), 3)
      .when(col("score") >= col("b4"), 4)
      .otherwise(5)
    val keepThreshold = when(col("stratum") === 1, "zz")
      .when(col("stratum") === 2, "c0")
      .when(col("stratum") === 3, "80")
      .when(col("stratum") === 4, "40")
      .otherwise("1a")
    scored.crossJoin(broadcast(b))
      .withColumn("stratum", stratum)
      .withColumn("kept",
        (substring(md5(col("doc_id").cast("string").cast("binary")), 1, 2)
          < keepThreshold).cast("long"))
      .groupBy("stratum")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("kept").as("n_kept"),
        round(sum(col("score").cast("decimal(18,4)"))
            .cast("decimal(28,4)").cast("double") / count(lit(1)), 4)
          .cast("decimal(18,4)").cast("double").as("mean_score"))
      .orderBy("stratum")
  }

  val q103Oracle: String = {
    val tokensSql = graft.functions.Text.tokensSql
    s"""WITH w AS (SELECT doc_id, $tokensSql AS ws FROM documents),
      |scored AS (
      |  SELECT doc_id,
      |    round(CAST(length(list_filter(ws,
      |      x -> x IN ('the','a','of','and','is','in','to'))) AS DOUBLE)
      |      / greatest(length(ws), 1), 4) AS score
      |  FROM w),
      |b AS (SELECT
      |  round(quantile_cont(score, 0.8), 6) AS b1,
      |  round(quantile_cont(score, 0.6), 6) AS b2,
      |  round(quantile_cont(score, 0.4), 6) AS b3,
      |  round(quantile_cont(score, 0.2), 6) AS b4
      | FROM scored),
      |strat AS (
      |  SELECT doc_id, score,
      |    CASE WHEN score >= b1 THEN 1 WHEN score >= b2 THEN 2
      |         WHEN score >= b3 THEN 3 WHEN score >= b4 THEN 4
      |         ELSE 5 END AS stratum,
      |    substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS hx
      |  FROM scored CROSS JOIN b)
      |SELECT CAST(stratum AS INT) AS stratum, count(*) AS n_docs,
      |  CAST(sum(CASE WHEN hx < CASE stratum
      |      WHEN 1 THEN 'zz' WHEN 2 THEN 'c0' WHEN 3 THEN '80'
      |      WHEN 4 THEN '40' ELSE '1a' END
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      |  CAST(CAST(round(
      |    CAST(CAST(sum(CAST(score AS DECIMAL(18,4))) AS DECIMAL(28,4))
      |      AS DOUBLE) / count(*), 4) AS DECIMAL(18,4)) AS DOUBLE)
      |    AS mean_score
      |FROM strat
      |GROUP BY stratum
      |ORDER BY stratum""".stripMargin
  }

  def q93ShardExport(s: SparkSession, dir: String): DataFrame = {
    val out = graft.Scratch.dir("graft_shards").toString + "/corpus"
    documents(s, dir)
      .withColumn("shard", substring(
        md5(col("doc_id").cast("string").cast("binary")), 1, 1))
      .repartition(col("shard"))
      .write.partitionBy("shard").parquet(out)
    // partition-column type inference would read an all-digit shard
    // set as INT; pin discovery to strings (inference happens eagerly
    // at read time, so restoring the conf after is safe)
    val inferKey = "spark.sql.sources.partitionColumnTypeInference.enabled"
    val prev = s.conf.get(inferKey, "true")
    s.conf.set(inferKey, "false")
    // explicit schema: partition values resolve from the paths, and an
    // EMPTY export (no part files to infer from) reads as zero rows
    // instead of failing inference
    val sch = documents(s, dir).schema
      .add(org.apache.spark.sql.types.StructField("shard",
        org.apache.spark.sql.types.StringType))
    val back =
      try s.read.schema(sch).parquet(out)
      finally s.conf.set(inferKey, prev)
    back
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        min("doc_id").as("min_doc"), max("doc_id").as("max_doc"),
        sum("n_chars").as("total_chars"))
      .orderBy("shard")
  }

  val q93Oracle: String =
    """SELECT substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS shard,
      | count(*) AS n_docs, min(doc_id) AS min_doc, max(doc_id) AS max_doc,
      | CAST(sum(n_chars) AS BIGINT) AS total_chars
      |FROM documents
      |GROUP BY shard
      |ORDER BY shard""".stripMargin

  /** Class-rebalance plan: per label, the oversampling factor that
    * equalizes class sizes to the majority class — the plan an
    * imbalanced-classification pipeline feeds into weighted sampling
    * or loss weighting. One tiny aggregate (numLabels rows) plus a
    * broadcast of the 1-row max — the q103 boundaries-broadcast
    * pattern, no window, no second scan of raw data.
    */
  def q133RebalancePlan(s: SparkSession, dir: String): DataFrame = {
    val counts = embeddings(s, dir).groupBy("label")
      .agg(count(lit(1)).as("n"))
    val mx = counts.agg(max("n").as("target"))
    counts.join(broadcast(mx))
      .select(col("label").cast("int").as("label"), col("n"),
        col("target"),
        round(col("target") * lit(1.0) / col("n"), 4)
          .cast("decimal(18,4)").cast("double").as("rep_factor"))
      .orderBy("label")
  }

  val q133Oracle: String =
    """WITH c AS (SELECT label, count(*) AS n FROM embeddings
      |           GROUP BY label),
      |m AS (SELECT max(n) AS target FROM c)
      |SELECT label, n, target,
      | CAST(CAST(round(target * 1.0 / n, 4) AS DECIMAL(18,4)) AS DOUBLE)
      |   AS rep_factor
      |FROM c, m ORDER BY label""".stripMargin

  /** Probability-proportional-to-size SYSTEMATIC sampling — the
    * weighted sampler survey statistics and data-mix tuning reach for
    * when "uniform 1%" over-represents penny orders: walk the
    * key-ordered cumulative weight and take one unit every
    * `total/target` of mass, so an order's selection probability is
    * proportional to its value, with zero randomness (the determinism
    * every engine-parity gate here demands — md5-ordered q78 is the
    * unweighted sibling).
    *
    * Exactness: weights are integer cents (the q140 fixed-point
    * rule), the stride is integer division, and a row is selected iff
    * a stride multiple lands inside its (exclusive, inclusive]
    * cumulative-weight span — pure int64, no float anywhere until the
    * report.
    *
    * Scale shape: the cumulative sum is the q73 two-phase prefix sum —
    * per-shard subtotals (one tiny aggregate, driver-folded into
    * exclusive offsets) + intra-shard window — so nothing row-scale
    * ever crosses one partition; a global `sum() over (order by)` here
    * would be the exact single-task collapse the q73 scale fix
    * removed.
    */
  def q167PpsSample(s: SparkSession, dir: String): DataFrame = {
    val o = orders(s, dir).select(col("o_orderkey"), col("o_orderpriority"),
      round(col("o_totalprice") * 100).cast("long").as("cents"))
      // three consumers (bounds probe, shard subtotals, the prefix
      // pass) — one materialized narrow projection instead of three
      // corpus scans (the q238/q228 shared-pass device)
      .localCheckpoint()
    val bounds = o.agg(min("o_orderkey"), max("o_orderkey"),
      sum("cents")).head()
    // empty input: a PPS sample of nothing is nothing (the bounds row
    // is all-NULL, not absent)
    if (bounds.isNullAt(0))
      return o.limit(0).select(col("o_orderpriority"),
        lit(0L).as("n_selected"), lit(0.0).as("selected_value"))
    val (minK, maxK) = (bounds.getLong(0), bounds.getLong(1))
    val total = bounds.getLong(2)
    val stride = math.max(1L, total / 100L)
    val span = math.max(1L, maxK - minK + 1)
    val nShards = 32
    val sharded = o.withColumn("shard",
      ((col("o_orderkey") - minK) * nShards / span).cast("int"))
    val subtotals = sharded.groupBy("shard").agg(sum("cents").as("t"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    var acc = 0L
    val offsets = subtotals.map { case (sh, t) =>
      val off = acc; acc += t; (sh, off)
    }
    val offsetDf = s.createDataFrame(offsets.toSeq).toDF("shard", "base")
    val intraW = Window.partitionBy("shard").orderBy("o_orderkey")
      .rowsBetween(Window.unboundedPreceding, -1)
    sharded
      .withColumn("intra", coalesce(sum("cents").over(intraW), lit(0L)))
      .join(broadcast(offsetDf), "shard")
      .withColumn("lo", col("base") + col("intra"))
      // `div` (floor division on int64) — Column./ would promote to
      // double and break the exact stride-boundary arithmetic
      .filter(expr(s"(lo + cents) div ${stride}L > lo div ${stride}L"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_selected"),
        (sum("cents") / 100.0).cast("decimal(18,2)").cast("double")
          .as("selected_value"))
      .orderBy("o_orderpriority")
  }

  val q167Oracle: String =
    """WITH o AS (SELECT o_orderkey, o_orderpriority,
      |  CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      | FROM orders),
      |tot AS (SELECT greatest(CAST(sum(cents) // 100 AS BIGINT), 1)
      |  AS stride FROM o),
      |c AS (SELECT o_orderpriority, cents,
      |  coalesce(sum(cents) OVER (ORDER BY o_orderkey
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS lo
      | FROM o)
      |SELECT o_orderpriority, count(*) AS n_selected,
      | CAST(CAST(sum(cents) / 100.0 AS DECIMAL(18,2)) AS DOUBLE)
      |   AS selected_value
      |FROM c, tot
      |WHERE (lo + cents) // stride > lo // stride
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  /** DSIR-style importance resampling (Xie et al., "Data Selection
    * for Language Models via Importance Resampling", NeurIPS 2023):
    * rank the raw corpus by how much more likely each document is
    * under the TARGET distribution (here: the `lang = 'en'` slice)
    * than under the raw distribution, both modeled as hashed-unigram
    * bag models — the standard cheap recipe for "find me more data
    * that looks like my curated set" at pretraining scale.
    *
    * log-importance = Σ_tokens [ln((c_tgt[b]+1)/(c_raw[b]+1))
    * + ln((R+B)/(T+B))] over the token's hash bucket b (add-1
    * smoothing over B=256 buckets; the constant folds into each
    * bucket weight so the per-doc weight is ONE decimal sum). Buckets
    * are the first two md5 hex chars of the token — the engine's
    * established cross-engine hash (q59/q89), standing in for DSIR's
    * hashed n-grams. Each ln is rounded to 6 dp and quantized to
    * DECIMAL before any sum, so per-doc totals are order-independent
    * exact integers in 1e-6 units (the q142 device).
    *
    * Selection takes the top 25% per md5 SHARD of doc_id rather than
    * a global order statistic: 16 hash shards are unbiased weight
    * samples, so per-shard quotas equal the global rate while every
    * rank window holds 1/16 of the corpus — the global top-k (a full
    * sort or a driver-sized TakeOrdered) never materializes. Bucket
    * stats are one 256-row broadcast; everything else is map-side.
    */
  def q214DsirResample(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Text.tokens
    val tok = documents(s, dir)
      .select(col("doc_id"), col("lang"),
        explode(tokens(col("text"))).as("tk"))
      .withColumn("bucket", substring(md5(col("tk").cast("binary")), 1, 2))
    // NOT checkpointed: the token stream is corpus-sized — at scale,
    // re-deriving it for the two consumers (bucket stats, per-doc
    // weights) is two cheap codegen'd passes, while materializing it
    // would hold the corpus in block storage (guide §5: cache only
    // when recompute beats the memory pressure; A/B'd flat locally)
    val bk = tok.groupBy("bucket").agg(count(lit(1)).as("c_raw"),
      sum(when(col("lang") === "en", 1L).otherwise(0L)).as("c_tgt"))
    // corpus totals are exactly the bucket stats' column sums — fold
    // the 256-row frame instead of a third corpus pass
    val tot = bk.agg(sum("c_raw").as("r_total"), sum("c_tgt").as("t_total"))
    val rw = bk.crossJoin(broadcast(tot))
      .select(col("bucket"),
        (round(log((col("c_tgt") + lit(1.0)) / (col("c_raw") + lit(1.0))), 6)
           .cast("decimal(12,6)") +
         round(log((col("r_total") + lit(256.0)) /
             (col("t_total") + lit(256.0))), 6)
           .cast("decimal(12,6)")).as("rw"))
    val dw = tok.join(broadcast(rw), "bucket")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tok"), sum("rw").as("w"))
    val wnd = Window.partitionBy("shard")
      .orderBy(col("w").desc, col("doc_id"))
    dw.withColumn("shard",
        substring(md5(col("doc_id").cast("string").cast("binary")), 1, 1))
      .withColumn("rk", row_number().over(wnd).cast("long"))
      .withColumn("cnt", count(lit(1)).over(Window.partitionBy("shard")))
      .select(col("doc_id"), col("n_tok"),
        col("w").cast("double").as("log_weight"), col("shard"),
        col("rk").as("shard_rank"),
        (col("rk") <= ceil(lit(0.25) * col("cnt"))).as("selected"))
      .orderBy("doc_id")
  }

  val q214Oracle: String = {
    import graft.functions.Text.tokensSql
    s"""WITH tok AS (SELECT doc_id, lang,
      |   substr(md5(tk), 1, 2) AS bucket
      | FROM (SELECT doc_id, lang, unnest($tokensSql) AS tk
      |       FROM documents)),
      |tot AS (SELECT count(*) AS r_total,
      |  count(*) FILTER (WHERE lang = 'en') AS t_total FROM tok),
      |bk AS (SELECT bucket, count(*) AS c_raw,
      |  count(*) FILTER (WHERE lang = 'en') AS c_tgt
      | FROM tok GROUP BY bucket),
      |rw AS (SELECT bucket,
      |  CAST(round(ln((c_tgt + 1.0) / (c_raw + 1.0)), 6)
      |    AS DECIMAL(12,6))
      |  + CAST(round(ln((r_total + 256.0) / (t_total + 256.0)), 6)
      |    AS DECIMAL(12,6)) AS rw
      | FROM bk CROSS JOIN tot),
      |dw AS (SELECT doc_id, count(*) AS n_tok, sum(rw) AS w
      | FROM tok JOIN rw USING (bucket) GROUP BY doc_id),
      |rk AS (SELECT doc_id, n_tok, w,
      |  substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS shard,
      |  CAST(row_number() OVER (PARTITION BY
      |      substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)
      |    ORDER BY w DESC, doc_id) AS BIGINT) AS rk,
      |  count(*) OVER (PARTITION BY
      |      substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) AS cnt
      | FROM dw)
      |SELECT doc_id, n_tok, CAST(w AS DOUBLE) AS log_weight, shard,
      |  rk AS shard_rank,
      |  rk <= ceil(CAST(0.25 AS DOUBLE) * cnt) AS selected
      |FROM rk ORDER BY doc_id""".stripMargin
  }

  /** Greedy max-coverage document selection — the classic submodular
    * coreset recipe (Nemhauser, Wolsey & Fisher 1978: greedy is
    * (1−1/e)-optimal for monotone submodular objectives): pick up to
    * [[CoverageRounds]] documents, each round taking the document
    * adding the most NOT-YET-COVERED distinct tokens (ties →
    * doc_id), stopping early when no document adds anything. This is
    * the coverage-sampling shape behind "pick k docs that span the
    * vocabulary / topic space" curation passes.
    *
    * Scale: the token frame builds in ONE narrow scan (within-doc
    * dedup via array_distinct — doc_id is the PK, so no corpus-sized
    * DISTINCT shuffle exists) and persists once. Each round is then
    * ONE distributed job: a broadcast ANTI join against the covered
    * set — re-derived as a broadcast-sized subplan (tokens of the ≤K
    * picked docs), so no per-round materialization job — into a
    * map-side-combinable gain count and a TakeOrdered-of-1 argmax.
    * Driver state per round is one (doc_id, gain) pair; K is small by
    * construction (curation picks tens, not millions). The oracle
    * replays the identical greedy chain as K materialized CTE rounds.
    */
  val CoverageRounds = 8

  /** Token-row ceiling of q216's single-task greedy arm. */
  val CoverageLocalMaxRows = 4000000L

  def q216CoverageSelect(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Text.tokens
    // coverage universe = token BIGRAMS: a realistic spanning target
    // (the unigram vocabulary is tiny enough here that one document
    // covers it, ending greedy in one round at every SF)
    import graft.functions.Text.bigrams
    // (measured: a standing repartition(doc_id) to elide the per-round
    // agg exchange LOST time here — the loop is scheduler-bound on
    // ~50k-row stages, and the extra build shuffle outweighed the
    // elision; the q198/q207 standing-partition device pays off on
    // edge lists orders of magnitude wider than this)
    // per-(doc, token) dedup happens INSIDE the row (array_distinct
    // before the explode): doc_id is the table's PK, so cross-row
    // duplicates cannot exist and the corpus-sized distinct shuffle
    // the previous form paid (~1M rows at sf0.1) disappears.
    // The repartition BEFORE the explode is load-bearing: the gate
    // table is one row group, so the scan is ONE task and the heavy
    // per-doc bigram build would run serially (measured 4.3 s of the
    // 6.6 s total on one core) — a sub-MB exchange buys 32-way
    // tokenization. On a production corpus the scan has natural
    // parallelism and this exchange stays input-partition-count cheap.
    // token array materialized as a column BEFORE the bigram lambda
    // (see Text.bigrams — the inline form re-splits per bigram)
    val tokD = documents(s, dir)
      .repartition(math.max(8, s.sparkContext.defaultParallelism))
      .select(col("doc_id"), tokens(col("text")).as("ws"))
      .select(col("doc_id"),
        explode(array_distinct(bigrams(col("ws")))).as("tk"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // the covered set is never materialized: it is BY CONSTRUCTION the
    // tokens of the ≤K picked documents, so each round re-derives it
    // as a broadcast-sized subplan over the persisted token frame
    // (filter on the picked doc ids). That makes the whole round ONE
    // job — anti-join against the derived cover, map-side-combinable
    // gain count, TakeOrdered argmax. (Round-10 re-audit: a
    // driver-held covered-token set with a LocalRelation broadcast,
    // and a fused argmax+tokens subquery probe, were BOTH measured —
    // neither beat this form; the growing driver broadcast and the
    // doubled uncovered subtree respectively ate the saving. The
    // remaining per-round cost is the greedy algorithm's own
    // sequential driver round-trip — the measured floor, recorded in
    // SCALE.md.)
    // Size-based arm switch (the q198/GraphLocal device, VERDICT r12
    // #2): below the cap the WHOLE greedy recurrence runs inside ONE
    // task over the persisted token frame — one job total, instead of
    // rounds × (anti join + aggregate + TakeOrdered) whose per-round
    // scheduler floor is the measured cost at gate scale (~0.3 s/round
    // of sub-MB stages). The kernel replays the EXACT recurrence:
    // gain(d) = #{tk ∈ d : tk ∉ covered}, argmax by (gain desc, doc
    // asc), stop when every gain is 0 (⇔ the distributed arm's empty
    // uncovered frame). SamplingSpec pins the arms equal; the
    // distributed loop below is unchanged — the 100 TB path — and
    // `graft.arms.forceDistributed` forces it.
    val localCap = graft.GraftSession.localCap(s, CoverageLocalMaxRows)
    if (localCap > 0 && tokD.count() <= localCap) {
      import s.implicits._
      val kernelRows = tokD.as[(Long, String)].coalesce(1)
        .mapPartitions { it =>
          val docs = new java.util.HashMap[java.lang.Long,
            scala.collection.mutable.ArrayBuffer[String]]()
          it.foreach { case (d, tk) =>
            docs.computeIfAbsent(d,
              _ => scala.collection.mutable.ArrayBuffer.empty) += tk
          }
          val covered = new java.util.HashSet[String]()
          val out = new scala.collection.mutable.ArrayBuffer[
            (Long, Long, Long, Long)]()
          var total0 = 0L
          var r = 1
          var stop = false
          while (r <= CoverageRounds && !stop) {
            var bestDoc = Long.MaxValue
            var bestGain = 0L
            val dit = docs.entrySet().iterator()
            while (dit.hasNext) {
              val e = dit.next()
              var g = 0L
              val ts = e.getValue
              var i = 0
              while (i < ts.length) {
                if (!covered.contains(ts(i))) g += 1
                i += 1
              }
              val d = e.getKey.longValue()
              if (g > bestGain || (g == bestGain && g > 0 && d < bestDoc)) {
                bestGain = g; bestDoc = d
              }
            }
            if (bestGain == 0L) stop = true
            else {
              total0 += bestGain
              out += ((r.toLong, bestDoc, bestGain, total0))
              docs.get(bestDoc).foreach(covered.add)
              r += 1
            }
          }
          out.iterator
        }.collect().toSeq // ≤ CoverageRounds rows — metadata-sized
      tokD.unpersist()
      return s.createDataFrame(kernelRows)
        .toDF("round", "doc_id", "gain", "covered_total")
        .orderBy("round")
    }
    val picked = scala.collection.mutable.ArrayBuffer.empty[Long]
    val picks = Seq.newBuilder[(Long, Long, Long, Long)]
    var total = 0L
    var round = 1
    var done = false
    while (round <= CoverageRounds && !done) {
      val uncovered =
        if (picked.isEmpty) tokD
        else tokD.join(
          // no distinct: LEFT ANTI ignores build-side duplicates, and
          // dropping it removes a whole shuffle stage from every round
          broadcast(tokD.filter(col("doc_id").isin(picked.toSeq: _*))
            .select(col("tk"))),
          Seq("tk"), "left_anti")
      val win = uncovered
        .groupBy("doc_id").agg(count(lit(1)).as("g"))
        .orderBy(col("g").desc, col("doc_id")).limit(1).collect()
      if (win.isEmpty) done = true
      else {
        val w = win.head.getLong(0); val g = win.head.getLong(1)
        total += g
        picks += ((round.toLong, w, g, total))
        picked += w
        round += 1
      }
    }
    tokD.unpersist()
    s.createDataFrame(picks.result())
      .toDF("round", "doc_id", "gain", "covered_total")
      .orderBy("round")
  }

  val q216Oracle: String = {
    import graft.functions.Text.tokensSql
    val rounds = (1 to CoverageRounds).map { i =>
      val pick =
        if (i == 1)
          s"""p1 AS MATERIALIZED (SELECT doc_id, count(*) AS g FROM tok
            |  GROUP BY doc_id ORDER BY g DESC, doc_id LIMIT 1)""".stripMargin
        else
          s"""p$i AS MATERIALIZED (SELECT t.doc_id, count(*) AS g
            |  FROM tok t ANTI JOIN c${i - 1} c ON t.tk = c.tk
            |  GROUP BY t.doc_id ORDER BY g DESC, doc_id LIMIT 1)""".stripMargin
      val cover =
        if (i == 1)
          s"""c1 AS MATERIALIZED (SELECT DISTINCT t.tk FROM tok t
            |  JOIN p1 ON t.doc_id = p1.doc_id)""".stripMargin
        else
          s"""c$i AS MATERIALIZED (SELECT tk FROM c${i - 1}
            |  UNION SELECT t.tk FROM tok t
            |  JOIN p$i ON t.doc_id = p$i.doc_id)""".stripMargin
      s"$pick,\n$cover"
    }.mkString(",\n")
    val selects = (1 to CoverageRounds).map { i =>
      s"""SELECT CAST($i AS BIGINT) AS round, doc_id,
        |  CAST(g AS BIGINT) AS gain,
        |  (SELECT count(*) FROM c$i) AS covered_total FROM p$i""".stripMargin
    }.mkString("\nUNION ALL ")
    s"""WITH w AS (SELECT doc_id, $tokensSql AS ws FROM documents),
      |tok AS MATERIALIZED (SELECT DISTINCT doc_id, unnest(
      |  CASE WHEN length(ws) >= 2
      |       THEN list_transform(range(1, length(ws)),
      |              i -> ws[i] || ' ' || ws[i+1])
      |       ELSE [] END) AS tk FROM w),
      |$rounds
      |SELECT * FROM (
      |$selects
      |) ORDER BY round""".stripMargin
  }

  /** Temperature of the sampling distribution (α) and the epoch cap. */
  val MixAlpha = 0.3
  val MixEpochCap = 1.5

  /** Temperature-based mixture reweighting — the multilingual /
    * multi-source sampling-weight computation from XLM-R (Conneau et
    * al. 2020) and mT5: groups sampled ∝ p^α (α = 0.3) so
    * low-resource groups are upweighted, with an epoch cap (here
    * 1.5×) so no group is repeated past the point of memorization;
    * capped mass is renormalized over everyone in one pass (the
    * standard single-step approximation of the exact waterfill).
    *
    * Exactness: ONE pow per group rounded to 6 dp and quantized to
    * DECIMAL before the normalizing sums (order-independent), every
    * ratio a single IEEE double expression stated identically in both
    * engines — the q142/q214 transcendental device applied to pow.
    * Scale: group stats are one map-side-combinable aggregate; the
    * normalizers are 1-row broadcasts; nothing corpus-sized moves.
    */
  def q217TemperatureMix(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Text.tokens
    val g = documents(s, dir)
      .groupBy(col("lang"), col("source"))
      .agg(sum(size(tokens(col("text"))).cast("long")).as("n"))
    val tot = g.agg(sum("n").as("tot"))
    val w = g.crossJoin(broadcast(tot))
      .withColumn("w",
        round(pow(col("n").cast("double") / col("tot"), lit(MixAlpha)), 6)
          .cast("decimal(12,6)"))
    val sw = w.agg(sum("w").as("sw"))
    val ep = w.crossJoin(broadcast(sw))
      .withColumn("ep_raw",
        col("w").cast("double") / col("sw").cast("double") *
          col("tot").cast("double") / col("n").cast("double"))
      .withColumn("qc",
        round(least(col("ep_raw"), lit(MixEpochCap)) *
          col("n").cast("double") / col("tot").cast("double"), 6)
          .cast("decimal(12,6)"))
    val sqc = ep.agg(sum("qc").as("sqc"))
    ep.crossJoin(broadcast(sqc))
      .select(col("lang"), col("source"), col("n").as("n_tok"),
        round(col("n").cast("double") / col("tot"), 6).as("p_raw"),
        round(col("ep_raw"), 4).as("epochs_raw"),
        (col("ep_raw") > MixEpochCap).as("capped"),
        round(col("qc").cast("double") / col("sqc").cast("double"), 6)
          .as("q_final"),
        round(col("qc").cast("double") / col("sqc").cast("double") *
          col("tot").cast("double") / col("n").cast("double"), 4)
          .as("epochs_final"))
      .orderBy("lang", "source")
  }

  val q217Oracle: String = {
    import graft.functions.Text.tokensSql
    s"""WITH g AS (SELECT lang, source,
      |  sum(CAST(length($tokensSql) AS BIGINT)) AS n
      | FROM documents GROUP BY lang, source),
      |t AS (SELECT sum(n) AS tot FROM g),
      |w AS (SELECT lang, source, n, tot,
      |  CAST(round(pow(CAST(n AS DOUBLE) / tot, CAST($MixAlpha AS DOUBLE)),
      |    6) AS DECIMAL(12,6)) AS w
      | FROM g CROSS JOIN t),
      |s AS (SELECT sum(w) AS sw FROM w),
      |ep AS (SELECT lang, source, n, tot,
      |  CAST(w AS DOUBLE) / CAST(sw AS DOUBLE)
      |    * CAST(tot AS DOUBLE) / CAST(n AS DOUBLE) AS ep_raw
      | FROM w CROSS JOIN s),
      |qc AS (SELECT lang, source, n, tot, ep_raw,
      |  CAST(round(least(ep_raw, CAST($MixEpochCap AS DOUBLE))
      |    * CAST(n AS DOUBLE) / CAST(tot AS DOUBLE), 6)
      |    AS DECIMAL(12,6)) AS qc
      | FROM ep),
      |sq AS (SELECT sum(qc) AS sqc FROM qc)
      |SELECT lang, source, CAST(n AS BIGINT) AS n_tok,
      |  round(CAST(n AS DOUBLE) / tot, 6) AS p_raw,
      |  round(ep_raw, 4) AS epochs_raw,
      |  ep_raw > CAST($MixEpochCap AS DOUBLE) AS capped,
      |  round(CAST(qc AS DOUBLE) / CAST(sqc AS DOUBLE), 6) AS q_final,
      |  round(CAST(qc AS DOUBLE) / CAST(sqc AS DOUBLE)
      |    * CAST(tot AS DOUBLE) / CAST(n AS DOUBLE), 4) AS epochs_final
      |FROM qc CROSS JOIN sq
      |ORDER BY lang, source""".stripMargin
  }

  /** UniMax language-budget allocation (q282) — Chung et al. 2023,
    * the SEQUENTIAL water-filling alternative to q217's temperature
    * mixture: sort languages ASCENDING by corpus size; each takes
    * min(C·sᵢ, remaining ÷ languages-left) — so no language exceeds C
    * epochs, small corpora are never starved by a temperature
    * exponent, and every budget token freed by a capped language
    * flows to the still-unallocated ones. Budget here = 3/4 of the
    * corpus total with cap C = 1 epoch — chosen so BOTH arms bind on
    * the synthetic corpus at every SF (language proportions are
    * construction-constant): the small languages hit the epoch cap,
    * the large ones split the freed budget.
    *
    * Execution shape: per-language token totals are ONE distributed
    * map-side-combinable aggregate; the fold itself runs on the
    * driver over ≤ #languages rows (the q263 bounded-driver-state
    * class — at 100 TB the language list is still dozens), all in
    * EXACT integer arithmetic (floor divisions, no IEEE anywhere);
    * the oracle replays the identical fold as a recursive CTE.
    */
  def q282UnimaxAllocation(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cap = 1L
    val sizes = documents(s, dir)
      .groupBy("lang")
      .agg(sum(size(graft.functions.Text.tokens(col("text"))))
        .cast("long").as("tokens"))
      .filter(col("tokens") > 0)
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .sortBy { case (lang, n) => (n, lang) } // ties broken by lang
    val total = sizes.map(_._2).sum
    var remaining = total * 3 / 4
    val k = sizes.length
    val rows = sizes.zipWithIndex.map { case ((lang, n), i) =>
      val fair = remaining / (k - i)      // even split of what's left
      val alloc = math.min(cap * n, fair)
      remaining -= alloc
      (lang, n, alloc, alloc * 1000000L / n)
    }
    rows.toSeq.toDF("lang", "corpus_tokens", "alloc_tokens",
      "epochs_micro").orderBy("lang")
  }

  val q282Oracle: String = {
    val tokensSql = graft.functions.Text.tokensSql
    s"""WITH RECURSIVE sizes AS (SELECT lang,
      |  CAST(sum(len($tokensSql)) AS BIGINT) AS s
      | FROM documents GROUP BY lang HAVING sum(len($tokensSql)) > 0),
      |ordered AS (SELECT lang, s,
      |  CAST(row_number() OVER (ORDER BY s, lang) AS BIGINT) AS i,
      |  CAST(count(*) OVER () AS BIGINT) AS k FROM sizes),
      |tot AS (SELECT CAST(sum(s) * 3 // 4 AS BIGINT) AS n FROM sizes),
      |step AS (
      |  SELECT CAST(0 AS BIGINT) AS i, (SELECT n FROM tot) AS r,
      |    CAST(NULL AS VARCHAR) AS lang, CAST(NULL AS BIGINT) AS s,
      |    CAST(NULL AS BIGINT) AS a
      |  UNION ALL
      |  SELECT o.i, step.r - least(o.s, step.r // (o.k - o.i + 1)),
      |    o.lang, o.s, least(o.s, step.r // (o.k - o.i + 1))
      |  FROM step JOIN ordered o ON o.i = step.i + 1)
      |SELECT lang, s AS corpus_tokens, a AS alloc_tokens,
      |  a * 1000000 // s AS epochs_micro
      |FROM step WHERE i >= 1 ORDER BY lang""".stripMargin
  }

  def gates: Seq[graft.Gate] = Seq(
    gate("q282_unimax_allocation", q282UnimaxAllocation, q282Oracle),
    gate("q217_temperature_mix", q217TemperatureMix, q217Oracle),
    gate("q216_coverage_select", q216CoverageSelect, q216Oracle),
    gate("q214_dsir_resample", q214DsirResample, q214Oracle),
    gate("q167_pps_sample", q167PpsSample, q167Oracle),
    gate("q133_rebalance_plan", q133RebalancePlan, q133Oracle),
    gate("q59_hash_split", q59HashSplit, q59Oracle),
    gate("q78_capped_sample", q78CappedSample, q78Oracle),
    gate("q89_training_mix", q89TrainingMix, q89Oracle),
    gate("q93_shard_export", q93ShardExport, q93Oracle),
    gate("q103_quality_strata", q103QualityStrata, q103Oracle)
  )
}
