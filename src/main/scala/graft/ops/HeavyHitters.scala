// Copyright (c) 2026 graft contributors
// SPDX-License-Identifier: Apache-2.0

package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables._

/** Approximate heavy hitters with exact verification ([EXT] surface):
  * the sketch-then-recount pattern a 100 TB vocabulary/top-terms job
  * actually runs.
  *
  * Phase 1 runs a Misra-Gries summary (k counters) INSIDE each scan
  * partition — per-partition imperative state, the one shape that
  * genuinely needs `mapPartitions` (SURVEY §7.3 escalation path (d)):
  * no shuffle, output ≤ k candidate items per partition. The MG
  * guarantee (any item with global frequency > N/(k+1) survives in
  * every partition covering it, and unions of summaries preserve the
  * property) makes the candidate union a SUPERSET of the true heavy
  * hitters for any threshold T > N/(k+1).
  *
  * Phase 2 recounts ONLY the candidates exactly (broadcast semi join —
  * the candidate set is ≤ k×partitions rows, metadata-sized) and
  * applies the threshold to exact counts. The superset property makes
  * the final answer EXACT and partitioning-independent: the sketch
  * decides how much work phase 2 does, never what it answers — which
  * is what lets a DuckDB oracle (plain GROUP BY ... HAVING) verify an
  * approximate algorithm hash-exactly.
  */
object HeavyHitters extends graft.Gates {

  /** Misra-Gries summary of one partition: at most k counters. */
  private[ops] def misraGries(it: Iterator[String], k: Int)
      : Iterator[String] = {
    val counters = new scala.collection.mutable.HashMap[String, Long]()
    it.foreach { x =>
      if (counters.contains(x)) counters(x) += 1L
      else if (counters.size < k) counters(x) = 1L
      else {
        // decrement-all step; drop zeros
        val dead = new scala.collection.mutable.ArrayBuffer[String]()
        counters.keysIterator.foreach { key =>
          val c = counters(key) - 1L
          if (c == 0L) dead += key else counters(key) = c
        }
        dead.foreach(counters.remove)
      }
    }
    counters.keysIterator
  }

  /** Token heavy hitters over the corpus: every token with
    * ≥ `threshold` occurrences, with its exact count. The counter
    * budget comes FROM the guarantee: k ≥ N/T ensures T > N/(k+1), so
    * the candidate union provably contains every answer row — one
    * cheap count() pass buys correctness at any scale. (On this
    * synthetic corpus the vocabulary is smaller than k, so the
    * summary happens to be lossless; HeavyHittersSpec drives the
    * lossy path with an adversarial heavy/tail stream at k = 8. On a
    * real corpus — 10⁹-term vocabularies — the same code holds k
    * counters per task instead of a billion-row exact aggregation,
    * which is the entire point.)
    */
  def q112HeavyHitters(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val threshold = 500L
    val tokens = documents(s, dir)
      .select(explode(split(col("text"), " ")).as("term"))
      .filter(length(col("term")) > 0)
    val n = tokens.count()
    val k = math.max(64L, n / threshold + 1L).toInt
    val candidates = tokens.as[String]
      .mapPartitions(it => misraGries(it, k))
      .toDF("term").distinct()
    tokens.join(broadcast(candidates), Seq("term"), "left_semi")
      .groupBy("term").agg(count(lit(1)).as("n"))
      .filter(col("n") >= threshold)
      .orderBy("term")
  }

  val q112Oracle: String =
    s"""WITH w AS (SELECT doc_id,
      |  ${graft.functions.Text.tokensSql} AS ws FROM documents),
      |t AS (SELECT unnest(ws) AS term FROM w)
      |SELECT term, count(*) AS n
      |FROM t GROUP BY term HAVING count(*) >= 500
      |ORDER BY term""".stripMargin

  def gates: Seq[graft.Gate] = Seq(
    gate("q112_heavy_hitters", q112HeavyHitters, q112Oracle)
  )
}
