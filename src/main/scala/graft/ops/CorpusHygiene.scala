// Copyright (c) 2026 graft contributors
// SPDX-License-Identifier: Apache-2.0

package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables._
import graft.functions.Text.{tokens, tokensSql}

/** Corpus-hygiene operators ([EXT] training-data surface): the
  * passage-level duplication audit and the composite C4-style keep/drop
  * filter a pretraining pipeline runs between raw ingest and
  * tokenization.
  *
  * Both are single-corpus-scan shapes. q105's shingle side reuses the
  * dedup family's n-gram machinery ([[Dedup.ngramsRaw]]); q107 is one
  * narrow scan ending in a 20-row aggregate — the cheap end of the
  * filter cascade (cf. C4, Raffel et al. 2020 §2.2; RefinedWeb,
  * Penedo et al. 2023 §3).
  */
object CorpusHygiene extends graft.Gates {

  /** Passage-level duplication coverage — the corpus-health metric
    * behind CCNet/Dolma-style paragraph dedup, restated on word
    * 8-gram shingles (this corpus has no paragraph breaks): for each
    * document, how many of its distinct shingles also appear in some
    * OTHER document, and what fraction of the document that covers.
    * Downstream, `dup_frac ≥ t` is the drop predicate; the audit keeps
    * every document visible so thresholds can be tuned from one run.
    *
    * Scale shape: shingles are xxhash64'd before the first exchange
    * (8-byte keys on the wire, never strings — the q41/q94 pattern).
    * Hash-as-identity accepts 64-bit collision risk: ~10⁹ distinct
    * shingles put the birthday bound near 3%-per-corpus odds of ONE
    * collided pair perturbing two rows' counts by 1 — fine for an
    * audit report; a pipeline gating deletions on these counts at
    * 100 TB should widen the key to a 128-bit pair (two seeded
    * xxhash64 columns) at double the shuffle-key width.
    * Cross-doc sharing is decided by a groupBy on the hash whose
    * output is FILTERED to shared shingles before joining back, so the
    * join's build side is only the duplicated tail of the shingle
    * distribution, not the corpus. Both aggregates are
    * map-side-combinable; ratios are exact integer divisions, so the
    * doubles hash-match cross-engine.
    */
  def q105DupPassages(s: SparkSession, dir: String): DataFrame = {
    val n = 8
    val sh = Dedup.ngramsRaw(documents(s, dir), n)
      .select(col("doc_id"), xxhash64(col("shingle")).as("h"))
      .distinct()
    val perDoc = sh.groupBy("doc_id").agg(count(lit(1)).as("n_shingles"))
    // count(*) over distinct (doc_id, h) pairs == count(DISTINCT doc_id)
    // per h, without a second distinct pass
    val shared = sh.groupBy("h").agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= 2).select("h")
    val dup = sh.join(shared, "h")
      .groupBy("doc_id").agg(count(lit(1)).as("n_dup"))
    perDoc.join(dup, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        col("n_shingles").cast("long").as("n_shingles"),
        coalesce(col("n_dup"), lit(0L)).cast("long").as("n_dup"),
        round(coalesce(col("n_dup"), lit(0L)).cast("double")
          / col("n_shingles"), 4).as("dup_frac"))
      .orderBy("doc_id")
  }

  val q105Oracle: String =
    s"""WITH w AS (SELECT doc_id, $tokensSql AS ws FROM documents),
      |sh AS (SELECT DISTINCT doc_id,
      |  unnest(CASE WHEN length(ws) >= 8
      |    THEN [array_to_string(ws[i:i+7], ' ')
      |          for i in generate_series(1, length(ws)-7)]
      |    ELSE [array_to_string(ws, ' ')] END) AS shingle
      | FROM w),
      |shared AS (SELECT shingle FROM sh GROUP BY shingle
      |           HAVING count(*) >= 2),
      |per_doc AS (SELECT doc_id, count(*) AS n_shingles FROM sh
      |            GROUP BY doc_id),
      |dup AS (SELECT s.doc_id, count(*) AS n_dup
      |        FROM sh s JOIN shared USING (shingle) GROUP BY s.doc_id)
      |SELECT p.doc_id,
      | CAST(p.n_shingles AS BIGINT) AS n_shingles,
      | CAST(coalesce(d.n_dup, 0) AS BIGINT) AS n_dup,
      | round(CAST(coalesce(d.n_dup, 0) AS DOUBLE) / p.n_shingles, 4)
      |   AS dup_frac
      |FROM per_doc p LEFT JOIN dup d USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  /** Composite C4-style quality filter — the keep/drop cascade (length
    * floor, vocabulary-diversity floor, natural-language-marker
    * presence) applied in ONE pass, reported per source as the
    * mixture-monitoring table an ingest pipeline alarms on (kept_frac
    * collapsing for one source = that crawl went bad).
    *
    * Every per-doc feature comes from codegen'd higher-order functions
    * on one `split` of the text — no shuffle until the 20-group
    * aggregate, which is map-side-combinable: at 100 TB the cost is
    * exactly one corpus scan, and the exchange carries 20 rows per
    * task. Ratios are exact integer divisions (hash-stable); the keep
    * predicate compares those exact doubles against literal
    * thresholds, so both engines decide identically.
    */
  def q107C4Filter(s: SparkSession, dir: String): DataFrame = {
    val stop = Seq("the", "a", "of", "and", "is", "in", "to")
    val keep = col("n_tokens") >= 30 &&
      col("distinct_ratio") >= 0.45 && col("stop_hits") >= 1
    documents(s, dir)
      .withColumn("ws", tokens(col("text")))
      .select(
        col("source"),
        size(col("ws")).as("n_tokens"),
        size(array_distinct(col("ws"))).cast("double")
          .divide(size(col("ws"))).as("distinct_ratio"),
        size(filter(col("ws"),
          w => stop.map(w === lit(_)).reduce(_ || _))).as("stop_hits"))
      .withColumn("keep", keep)
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        round(sum(when(col("keep"), 1L).otherwise(0L)).cast("double")
          / count(lit(1)), 4).as("kept_frac"),
        round(sum(when(col("keep"), col("n_tokens")).otherwise(0L))
          .cast("double")
          / nullif(sum(when(col("keep"), 1L).otherwise(0L)), lit(0)), 4)
          .as("kept_mean_tokens"))
      .select(col("source"), col("n_docs"),
        col("n_kept").cast("long").as("n_kept"),
        col("kept_frac"), col("kept_mean_tokens"))
      .orderBy("source")
  }

  val q107Oracle: String =
    s"""WITH w AS (SELECT doc_id, source, $tokensSql AS ws FROM documents),
      |st AS (SELECT doc_id, source, length(ws) AS n_tokens,
      |  CAST(length(list_distinct(ws)) AS DOUBLE) / length(ws)
      |    AS distinct_ratio,
      |  length(list_filter(ws,
      |    x -> x IN ('the','a','of','and','is','in','to'))) AS stop_hits
      | FROM w),
      |k AS (SELECT *, (n_tokens >= 30 AND distinct_ratio >= 0.45
      |                 AND stop_hits >= 1) AS keep FROM st)
      |SELECT source, count(*) AS n_docs,
      | CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      | round(CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS DOUBLE)
      |   / count(*), 4) AS kept_frac,
      | round(CAST(sum(CASE WHEN keep THEN n_tokens ELSE 0 END) AS DOUBLE)
      |   / nullif(sum(CASE WHEN keep THEN 1 ELSE 0 END), 0), 4)
      |   AS kept_mean_tokens
      |FROM k GROUP BY source
      |ORDER BY source""".stripMargin

  def gates: Seq[graft.Gate] = Seq(
    gate("q105_dup_passages", q105DupPassages, q105Oracle),
    gate("q107_c4_filter", q107C4Filter, q107Oracle)
  )
}
