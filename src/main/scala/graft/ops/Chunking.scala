// Copyright (c) 2026 graft contributors
// SPDX-License-Identifier: Apache-2.0

package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables._
import graft.functions.Text.{tokens, tokensSql}

/** Document preparation for training ([EXT] surface): cleaning,
  * fixed-size chunking, and greedy sequence packing — the steps between
  * a filtered corpus and a token stream.
  *
  * All three are narrow per-row / single-window transforms: cleaning is
  * pure codegen'd regex work in the scan stage; chunking explodes a
  * per-doc arithmetic sequence (no shuffle at all before the output
  * sort); packing is one running-sum window over the stable document
  * order — exactly one exchange. Nothing here is data-dependent in
  * shape, so the plans are identical at any corpus size.
  */
object Chunking extends graft.Gates {

  /** Boilerplate cleaning: strip URLs and e-mail addresses, collapse
    * runs of spaces, trim. Patterns are deliberately in the common
    * subset of Java regex and RE2 so both engines agree byte-for-byte;
    * the md5 of the cleaned text is the cross-engine witness.
    */
  def q71CleanText(s: SparkSession, dir: String): DataFrame =
    documents(s, dir)
      .withColumn("cleaned", trim(regexp_replace(regexp_replace(
        regexp_replace(col("text"), "https?://[^ ]+", ""),
        "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+", ""),
        " +", " ")))
      .select(col("doc_id"),
        md5(col("cleaned").cast("binary")).as("clean_md5"),
        length(col("cleaned")).cast("long").as("clean_chars"))
      .orderBy("doc_id")

  val q71Oracle: String =
    """SELECT doc_id,
      | md5(trim(regexp_replace(regexp_replace(regexp_replace(text,
      |   'https?://[^ ]+', '', 'g'),
      |   '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+', '', 'g'),
      |   ' +', ' ', 'g'))) AS clean_md5,
      | CAST(length(trim(regexp_replace(regexp_replace(regexp_replace(text,
      |   'https?://[^ ]+', '', 'g'),
      |   '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+', '', 'g'),
      |   ' +', ' ', 'g'))) AS BIGINT) AS clean_chars
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  /** Tokens per context-window chunk. Small on purpose so the testdata
    * (short documents) still produces multi-chunk splits.
    */
  val ChunkTokens = 32

  /** Fixed-size chunking: one row per (doc, chunk) with token bounds —
    * the split a tokenizer-side loader consumes. The chunk list is an
    * arithmetic `sequence` exploded per document: no shuffle, no UDF.
    */
  def q72Chunks(s: SparkSession, dir: String): DataFrame =
    documents(s, dir)
      .select(col("doc_id"), size(tokens(col("text"))).cast("long").as("n"))
      .withColumn("chunk_idx",
        explode(sequence(lit(0L),
          ceil(col("n").cast("double") / ChunkTokens).cast("long") - 1)))
      .select(col("doc_id"), col("chunk_idx"),
        (col("chunk_idx") * ChunkTokens + 1).as("token_start"),
        least(col("n"), (col("chunk_idx") + 1) * ChunkTokens).as("token_end"))
      .orderBy("doc_id", "chunk_idx")

  val q72Oracle: String =
    s"""WITH w AS (SELECT doc_id, CAST(length($tokensSql) AS BIGINT) AS n
      |           FROM documents)
      |SELECT doc_id,
      | CAST(unnest(generate_series(0, CAST(ceil(n / ${ChunkTokens}.0) AS BIGINT) - 1))
      |   AS BIGINT) AS chunk_idx,
      | CAST(unnest(generate_series(0, CAST(ceil(n / ${ChunkTokens}.0) AS BIGINT) - 1))
      |   * $ChunkTokens + 1 AS BIGINT) AS token_start,
      | least(n, (CAST(unnest(generate_series(0, CAST(ceil(n / ${ChunkTokens}.0) AS BIGINT) - 1))
      |   AS BIGINT) + 1) * $ChunkTokens) AS token_end
      |FROM w
      |ORDER BY doc_id, chunk_idx""".stripMargin

  /** Stride between sliding-chunk starts: ChunkTokens − StrideTokens
    * tokens of overlap carry context across chunk boundaries — the RAG
    * / long-document loader shape (each chunk re-reads the tail of its
    * predecessor so no span is ever split without context).
    */
  val StrideTokens = 24

  /** Sliding-window chunking with overlap: chunk i covers tokens
    * [i·S+1, min(n, i·S+W)] for window W = [[ChunkTokens]] and stride
    * S = [[StrideTokens]]; `overlap_tokens` counts positions shared
    * with the previous chunk. Same shape as [[q72Chunks]] — an
    * exploded per-document arithmetic sequence, zero shuffle before
    * the output sort, so the plan is identical at any corpus size.
    */
  def q118StrideChunks(s: SparkSession, dir: String): DataFrame = {
    val idx = col("chunk_idx")
    documents(s, dir)
      .select(col("doc_id"), size(tokens(col("text"))).cast("long").as("n"))
      .withColumn("chunk_idx",
        explode(sequence(lit(0L),
          ceil(col("n").cast("double") / StrideTokens).cast("long") - 1)))
      .select(col("doc_id"), idx,
        (idx * StrideTokens + 1).as("token_start"),
        least(col("n"), idx * StrideTokens + ChunkTokens).as("token_end"),
        when(idx === 0, lit(0L)).otherwise(greatest(lit(0L),
          least(col("n"), (idx - 1) * StrideTokens + ChunkTokens)
            - idx * StrideTokens)).as("overlap_tokens"))
      .orderBy("doc_id", "chunk_idx")
  }

  val q118Oracle: String = {
    val series =
      s"unnest(generate_series(0, CAST(ceil(n / ${StrideTokens}.0) AS BIGINT) - 1))"
    s"""WITH w AS (SELECT doc_id, CAST(length($tokensSql) AS BIGINT) AS n
      |           FROM documents)
      |SELECT doc_id,
      | CAST($series AS BIGINT) AS chunk_idx,
      | CAST($series * $StrideTokens + 1 AS BIGINT) AS token_start,
      | least(n, CAST($series AS BIGINT) * $StrideTokens + $ChunkTokens)
      |   AS token_end,
      | CASE WHEN $series = 0 THEN 0
      |   ELSE greatest(0, least(n,
      |     (CAST($series AS BIGINT) - 1) * $StrideTokens + $ChunkTokens)
      |     - CAST($series AS BIGINT) * $StrideTokens) END AS overlap_tokens
      |FROM w
      |ORDER BY doc_id, chunk_idx""".stripMargin
  }

  /** Context-window size for packing. */
  val PackTokens = 1024

  /** Shards for the packing prefix sum — matches the session's
    * parallelism posture; at 100 TB this is the cluster's core count.
    */
  val PackShards = 32

  /** Greedy sequential packing: documents in stable doc_id order are
    * assigned to training bins by their exclusive prefix token count —
    * bin = floor(prefix / windowSize), the standard streaming
    * approximation of sequence packing (each bin holds consecutive
    * documents totalling ≈ the context window).
    *
    * The global running sum is a TWO-PHASE PREFIX SUM, never a
    * single-partition window (which would funnel one row per document
    * — billions at scale — through one task): documents hash into
    * order-preserving doc_id-range shards; phase 1 aggregates one
    * token subtotal per shard (`PackShards` rows, driver-collected
    * like the watermark lookups) whose running offsets are broadcast
    * back; phase 2 windows WITHIN each shard in parallel and adds the
    * shard's offset. PlanSpec asserts the plan carries no
    * unpartitioned window. The id-bounds probe and the subtotal pass
    * each scan only pruned columns; a production pipeline over an
    * unsplittable-tokenizer corpus would checkpoint the (doc_id, n)
    * projection instead of computing it twice.
    */
  def q73Packing(s: SparkSession, dir: String): DataFrame = {
    val perDoc = documents(s, dir)
      .select(col("doc_id"), size(tokens(col("text"))).cast("long").as("n"))
    val bounds = perDoc.agg(min("doc_id"), max("doc_id")).head()
    if (bounds.isNullAt(0)) return perDoc
      .select(lit(0L).as("bin"), lit(0L).as("n_docs"),
        lit(0L).as("total_tokens"), col("doc_id").as("first_doc"),
        col("doc_id").as("last_doc")).limit(0)
    val (minId, maxId) = (bounds.getLong(0), bounds.getLong(1))
    val span = math.max(1L, maxId - minId + 1)
    val shardCol = ((col("doc_id") - minId) * PackShards / span).cast("int")
    val sharded = perDoc.withColumn("shard", shardCol)
    // phase 1: per-shard subtotals → exclusive running offsets
    val subtotals = sharded.groupBy("shard").agg(sum("n").as("t"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    var acc = 0L
    val offsets = subtotals.map { case (sh, t) =>
      val o = acc; acc += t; (sh, o)
    }
    val offsetDf = s.createDataFrame(offsets.toSeq).toDF("shard", "base")
    // phase 2: intra-shard exclusive prefix, offset by the shard base
    val intraW = Window.partitionBy("shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    sharded
      .withColumn("intra", coalesce(sum("n").over(intraW), lit(0L)))
      .join(broadcast(offsetDf), "shard")
      .withColumn("prefix", col("base") + col("intra"))
      .withColumn("bin", floor(col("prefix") / PackTokens))
      .groupBy("bin")
      .agg(count(lit(1)).as("n_docs"), sum("n").as("total_tokens"),
        min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))
      .orderBy("bin")
  }

  val q73Oracle: String =
    s"""WITH w AS (SELECT doc_id, CAST(length($tokensSql) AS BIGINT) AS n
      |           FROM documents),
      |p AS (SELECT doc_id, n,
      |  coalesce(sum(n) OVER (ORDER BY doc_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prefix
      | FROM w)
      |SELECT CAST(floor(prefix / ${PackTokens}.0) AS BIGINT) AS bin,
      | count(*) AS n_docs, CAST(sum(n) AS BIGINT) AS total_tokens,
      | min(doc_id) AS first_doc, max(doc_id) AS last_doc
      |FROM p
      |GROUP BY 1
      |ORDER BY bin""".stripMargin

  def gates: Seq[graft.Gate] = Seq(
    gate("q71_clean_text", q71CleanText, q71Oracle),
    gate("q72_chunks", q72Chunks, q72Oracle),
    gate("q73_packing", q73Packing, q73Oracle),
    gate("q118_stride_chunks", q118StrideChunks, q118Oracle)
  )
}
