// Copyright (c) 2026 graft contributors
// SPDX-License-Identifier: Apache-2.0

package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables._
import graft.functions.VectorExpressions.cosine_similarity

/** Similarity search over the `embeddings` table ([EXT] surface):
  * brute-force cosine top-k as the exact baseline, cosine near-duplicate
  * pairs, and a random-hyperplane LSH-bucketed approximate variant as
  * the scale path (sign-random-projection hashing per Charikar STOC
  * 2002; multi-table scheme per Indyk & Motwani, "Approximate nearest
  * neighbors: towards removing the curse of dimensionality", STOC 1998).
  *
  * Numeric determinism: both engines cast the float32 vectors to double
  * and reduce sequentially over the array (cosine here is a native
  * codegen'd Catalyst expression, VectorExpressions.CosineSimilarity,
  * computing dot/(sqrt(nx)*sqrt(ny)) in one pass), so similarities
  * agree bit-for-bit; results round to 6 decimals and tie-break on
  * vec_id anyway.
  *
  * Scale design: brute force is O(Q·N) with Q restricted to a bounded
  * query set and the candidate side broadcast-joined; the LSH variant
  * hashes into 4 tables of 4 sign-bits each, so candidates meet on
  * (table, bucket) join keys and each table prunes the candidate set
  * 16× — never crossing the full matrix. Recall is asserted against
  * brute force in SimilaritySpec.
  */
object Similarity extends graft.Gates {

  private[graft] def vecsDouble(s: SparkSession, dir: String): DataFrame =
    embeddings(s, dir)
      // null embeddings are excluded from every vector op (they have
      // no geometry; builtin sims would just propagate the null)
      .filter(col("embedding").isNotNull)
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("v"))

  /** Brute-force cosine top-5 neighbors for query vectors vec_id < 50. */
  def q45CosineTopK(s: SparkSession, dir: String): DataFrame = {
    val vecs = vecsDouble(s, dir)
    val queries = vecs.filter(col("vec_id") < 50)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val sims = queries.join(vecs.filter(col("vec_id") >= 50).hint("broadcast"))
      .withColumn("sim", round(cosine_similarity(col("qv"), col("v")), 6))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("sim").desc, col("vec_id"))
    sims.withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 5)
      .select(col("qid"), col("vec_id"), col("sim"), col("rn"))
      .orderBy("qid", "rn")
  }

  val q45Oracle: String =
    """WITH e AS (SELECT vec_id, label,
      |   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      | FROM embeddings),
      |sims AS (
      | SELECT q.vec_id AS qid, c.vec_id AS vec_id,
      |   round(list_cosine_similarity(q.v, c.v), 6) AS sim
      | FROM e q JOIN e c ON q.vec_id < 50 AND c.vec_id >= 50),
      |ranked AS (
      | SELECT *, row_number() OVER (PARTITION BY qid
      |     ORDER BY sim DESC, vec_id) AS rn
      | FROM sims)
      |SELECT qid, vec_id, sim, rn FROM ranked
      |WHERE rn <= 5
      |ORDER BY qid, rn""".stripMargin

  /** Embedding-cosine near-duplicate pairs (threshold tuned to the
    * testdata's similarity distribution) — EXACT result, computed as a
    * blocked self-join grid.
    *
    * Why not LSH-band candidates + rescore: the exact semantics need a
    * candidate set guaranteed to contain every pair at sim ≥ 0.42, and
    * sign-LSH cannot give that guarantee cheaply at this threshold —
    * θ = arccos(0.42) ≈ 65°, so a 0.42-pair agrees on one sign bit
    * w.p. 1-θ/π ≈ 0.64, collides in a 4-bit table w.p. 0.64⁴ ≈ 0.17,
    * and escapes all four of q46's tables w.p. ≈ 0.48; driving the
    * miss rate to ~0 needs L/2^B > 1, i.e. MORE candidate volume than
    * all-pairs. Banding is the right tool for high thresholds
    * (0.8–0.9, see q41/q42) and for approximate top-k (q46/q55); the
    * exact low-threshold query is inherently O(N²) compute.
    *
    * What the grid fixes is the O(N²) *plan*: instead of broadcasting
    * the corpus through a theta-only BroadcastNestedLoopJoin (per-node
    * memory = whole corpus; one task per left row), vectors hash into
    * P blocks and each unordered block pair (p1 ≤ p2) becomes one
    * equi-join cell. Per-task memory is two blocks, the shuffle keys
    * are (p1,p2), work spreads evenly over P(P+1)/2 cells, and P
    * scales with the corpus (≈512 vectors per block) — the canonical
    * distributed exact all-pairs layout. PlanSpec asserts the plan has
    * no nested-loop/cartesian join.
    */
  def q44EmbeddingNearDup(s: SparkSession, dir: String): DataFrame = {
    val vecs = vecsDouble(s, dir)
    // parquet count-star is a metadata-only read — cheap at any scale
    val n = embeddings(s, dir).count()
    val blocks = math.max(1, math.ceil(n / 512.0).toInt)
    val blocked = vecs.withColumn("blk",
      pmod(xxhash64(col("vec_id")), lit(blocks)).cast("int"))
    val cells = for (i <- 0 until blocks; j <- i until blocks) yield (i, j)
    val cellDf = s.createDataFrame(cells).toDF("p1", "p2")
    val aSide = blocked.join(broadcast(cellDf), col("blk") === col("p1"))
      .select(col("p1"), col("p2"), col("vec_id").as("ida"), col("v").as("va"))
    val bSide = blocked.join(broadcast(cellDf), col("blk") === col("p2"))
      .select(col("p1"), col("p2"), col("vec_id").as("idb"), col("v").as("vb"))
    aSide.join(bSide, Seq("p1", "p2"))
      // a cross-block cell holds each unordered pair exactly once
      // (block id is a function of vec_id); diagonal cells order by id
      .filter(col("p1") =!= col("p2") || col("ida") < col("idb"))
      .withColumn("sim", round(cosine_similarity(col("va"), col("vb")), 6))
      .filter(col("sim") >= 0.42)
      .select(least(col("ida"), col("idb")).as("id1"),
        greatest(col("ida"), col("idb")).as("id2"), col("sim"))
      .orderBy("id1", "id2")
  }

  val q44Oracle: String =
    """WITH e AS (SELECT vec_id,
      |   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      | FROM embeddings)
      |SELECT a.vec_id AS id1, b.vec_id AS id2,
      | round(list_cosine_similarity(a.v, b.v), 6) AS sim
      |FROM e a JOIN e b ON a.vec_id < b.vec_id
      |WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.42
      |ORDER BY id1, id2""".stripMargin

  // ---- LSH-bucketed approximate variant (scale path) -----------------

  /** Deterministic pseudo-random ±1 hyperplane weight for (plane, dim).
    * Pure integer mixing — reproducible across executors with no state.
    */
  private[ops] def planeSign(plane: Int, dim: Int): Double = {
    var h = plane * 0x9E3779B9 + dim * 0x85EBCA6B
    h ^= h >>> 13; h *= 0xC2B2AE35; h ^= h >>> 16
    if ((h & 1) == 0) 1.0 else -1.0
  }

  /** Multi-table LSH: L independent tables of B sign-bits each. Recall
    * and pruning trade off via (L, B): collision probability for
    * cosine-θ neighbors is 1-(1-(1-θ/π)^B)^L while the probed fraction
    * is ≈ 1-(1-1/2^B)^L of the corpus. L=8, B=4 probes ≈40% here —
    * the honest operating point for this testdata, whose vectors are
    * near-uniform (top-5 cosine ≈ 0.29-0.49, barely above the 1/√d
    * noise floor): true neighbors are only weakly closer than average,
    * so aggressive pruning necessarily costs recall. On clustered
    * production embeddings the same plan runs at higher B / lower
    * probe fraction.
    */
  val NumTables = 8
  val BitsPerTable = 4

  /** One (table, bucket) row per table per vector; bucket = B sign
    * bits against that table's hyperplanes.
    */
  private[ops] def withBuckets(df: DataFrame): DataFrame = {
    val buckets = udf((vv: Seq[java.lang.Double]) => {
      val v = unbox(vv)
      (0 until NumTables).map { t =>
        var b = 0
        var j = 0
        while (j < BitsPerTable) {
          val p = t * BitsPerTable + j
          var dotp = 0.0
          var i = 0
          while (i < v.length) { dotp += v(i) * planeSign(p, i); i += 1 }
          if (dotp >= 0) b |= (1 << j)
          j += 1
        }
        t * (1 << BitsPerTable) + b
      }
    })
    df.withColumn("bucket", explode(buckets(col("v"))))
  }

  /** ANN top-5 over the union of same-bucket candidates across the L
    * tables — the 100 TB-shaped path: shuffle keys are (table, bucket)
    * ids and each table prunes the candidate set 2^B×. Exposed for the
    * spec's recall measurement; the gated query [[q46AnnLsh]] wraps it
    * in the ε-approximation witness.
    */
  private[graft] def lshTop5(s: SparkSession, dir: String): DataFrame = {
    val vecs = vecsDouble(s, dir)
    val queries = withBuckets(vecs.filter(col("vec_id") < 50))
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("bucket"))
    val cands = withBuckets(vecs.filter(col("vec_id") >= 50))
      .select(col("vec_id"), col("v"), col("bucket"))
    val sims = queries.join(cands, "bucket")
      .select(col("qid"), col("vec_id"), col("qv"), col("v"))
      .dropDuplicates("qid", "vec_id") // pairs colliding in several tables score once
      .withColumn("sim", round(cosine_similarity(col("qv"), col("v")), 6))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("sim").desc, col("vec_id"))
    sims.withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 5)
      .select(col("qid"), col("vec_id"), col("sim"), col("rn"))
      .orderBy("qid", "rn")
  }

  // ---- ε-approximation witness (oracle-checkable ANN gate) -----------

  /** Quality bound the witness asserts: the approximate 5th-best
    * similarity must be within Eps (absolute cosine) of the exact
    * 5th-best, per query point. This is the (1+ε)-approximate-NN
    * guarantee LSH actually provides (Indyk & Motwani, STOC 1998) —
    * NOT a per-query recall floor, which is statistically meaningless
    * on near-uniform vectors where rank-5 and rank-8 differ by <0.01
    * cosine. Measured max delta at this Eps's params: 0.070 (sf0.01),
    * 0.058 (sf0.1) for LSH; 0.066 / 0.070 for IVF — ≥0.03 margin.
    * Aggregate recall (a population statistic, stable where per-query
    * recall is not) stays asserted in SimilaritySpec.
    */
  val Eps = 0.10

  /** Per-query witness row: did the ANN return a full top-5, and is
    * its 5th-best similarity within [[Eps]] of the exact 5th-best?
    * Every plan component is deterministic (seeded hashes, rounded
    * sims, id tie-breaks), so the booleans are reproducible and the
    * oracle can state their expected values — this is what turns an
    * approximate query into a hash-checkable gate row.
    */
  private[graft] def epsWitness(exact: DataFrame, ann: DataFrame): DataFrame = {
    val e = exact.groupBy("qid").agg(min("sim").as("e5"))
    val a = ann.groupBy("qid")
      .agg(min("sim").as("a5"), count(lit(1)).as("an"))
    e.join(a, Seq("qid"), "left")
      .select(col("qid"),
        (coalesce(col("an"), lit(0L)) === 5).as("found_5"),
        (col("e5") - coalesce(col("a5"), lit(-2.0)) <= Eps).as("approx_ok"))
      .orderBy("qid")
  }

  /** SQL oracle for an ε-witness: the expected booleans are all-true
    * for every query point — the deterministic claim the Spark side
    * must reproduce.
    */
  private val witnessOracle: String =
    """SELECT vec_id AS qid, TRUE AS found_5, TRUE AS approx_ok
      |FROM embeddings WHERE vec_id < 50
      |ORDER BY qid""".stripMargin

  /** Gated LSH ANN: per query point, the ε-approximation witness of
    * [[lshTop5]] against the exact [[q45CosineTopK]] top-5.
    */
  def q46AnnLsh(s: SparkSession, dir: String): DataFrame =
    epsWitness(q45CosineTopK(s, dir), lshTop5(s, dir))

  // ---- IVF variant (coarse k-means quantizer) ------------------------

  /** IVF-style ANN: a coarse k-means quantizer partitions the corpus
    * into cells; each query probes its nearest `NProbe` centroids and
    * ranks only those cells' vectors. The centroid table is tiny
    * (closure-broadcast); the candidate join keys on cell id — the
    * inverted-file structure of FAISS-style IVF indexes, expressed
    * relationally.
    *
    * Quantizer training is SAMPLE-FIT, FAISS-style: Lloyd's iterations
    * run sequentially on the driver over at most
    * `IvfSampleFactor × IvfCells` vectors chosen by hash order (a
    * seeded uniform sample that Spark plans as a per-partition top-K +
    * driver merge, never a full sort). At 100 TB the full-corpus
    * alternative — an iterative distributed job per invocation — is
    * the textbook anti-pattern this replaces: the quantizer needs only
    * O(256·k) training points (FAISS practice), and a driver-side fit
    * over a bounded sample is also bit-deterministic, which is what
    * lets the ε-witness be oracle-checked. Assignment and probing stay
    * fully distributed.
    */
  val IvfCells = 16
  val NProbe = 4
  val IvfSampleFactor = 256
  val IvfIters = 10

  /** UDF-boundary unboxing: `Seq[Double]` deserialization asserts
    * non-null elements (NOT_NULL_ASSERT_VIOLATION on a dirty feed), so
    * every vector UDF takes boxed doubles and reads a null slot as
    * 0.0 — the same value the codegen'd expressions' primitive
    * `ArrayData.getDouble` readers surface for a null bit.
    */
  private[graft] def unbox(v: Seq[java.lang.Double]): Array[Double] = {
    val a = new Array[Double](v.length)
    var i = 0
    while (i < a.length) {
      val x = v(i); a(i) = if (x == null) 0.0 else x.doubleValue; i += 1
    }
    a
  }

  private[graft] def dist2(a: Array[Double], b: Array[Double]): Double = {
    // min-length: a malformed (truncated) vector in a dirty feed must
    // cost a distance, never an ArrayIndexOutOfBounds on the executor
    val n = math.min(a.length, b.length)
    var d = 0.0; var i = 0
    while (i < n) { val x = a(i) - b(i); d += x * x; i += 1 }
    d
  }

  /** Index of the nearest centroid by [[dist2]], ties to the lowest
    * index. A MEMBER method (not a local def) on purpose: executor
    * lambdas reach it through the static module reference instead of
    * capturing the enclosing scope — a local def would lift into the
    * (non-serializable) module instance and break task serialization
    * the moment Catalyst pushes the calling UDF into a scan filter.
    */
  private[graft] def nearest(v: Array[Double],
      cs: Array[Array[Double]]): Int = {
    var best = 0; var bd = Double.MaxValue; var c = 0
    while (c < cs.length) {
      val d = dist2(v, cs(c))
      if (d < bd) { bd = d; best = c }
      c += 1
    }
    best
  }

  /** Deterministic sequential Lloyd's: init = first k sample vectors
    * (the sample is hash-ordered, so these are pseudo-random), ties
    * break to the lowest cell id, empty cells keep their previous
    * centroid. Pure function — the spec asserts determinism and the
    * sample-size bound directly.
    */
  private[graft] def lloydFit(sample: Array[Array[Double]], k: Int,
      iters: Int): Array[Array[Double]] = {
    require(sample.nonEmpty, "empty training sample")
    // width = the WIDEST sample vector, never the first: a truncated
    // vector that hashes to the front must not collapse every centroid
    // (and hence every cell assignment) to its dimensionality
    val dim = sample.map(_.length).max
    var cents = sample.take(k).map(v => java.util.Arrays.copyOf(v, dim))
    for (_ <- 0 until iters) {
      val sums = Array.fill(cents.length)(new Array[Double](dim))
      val counts = new Array[Long](cents.length)
      sample.foreach { v =>
        var best = 0; var bd = Double.MaxValue; var c = 0
        while (c < cents.length) {
          val d = dist2(v, cents(c))
          if (d < bd) { bd = d; best = c }
          c += 1
        }
        counts(best) += 1
        var i = 0
        // min-length: truncated sample vectors contribute the dims
        // they have (clean corpora are uniform-width; this only fires
        // on dirty feeds)
        val m = math.min(dim, v.length)
        while (i < m) { sums(best)(i) += v(i); i += 1 }
      }
      cents = cents.indices.map { c =>
        if (counts(c) == 0L) cents(c)
        else sums(c).map(_ / counts(c))
      }.toArray
    }
    cents
  }

  /** The one sample-collect protocol every driver-fit quantizer uses
    * (IVF, PQ, semdedup k-means): deterministic hash order over
    * `vec_id`, bounded at `n` rows — the metadata-sized-driver-state
    * class as the watermark lookups. Input frame must carry
    * (vec_id, v: array<double>). Shared so a bounds/ordering fix (or
    * dirty-feed hardening) can never land in one sampler and silently
    * miss another.
    */
  private[graft] def hashSample(vecs: DataFrame, n: Int): Array[Array[Double]] =
    vecs.withColumn("h", xxhash64(col("vec_id")))
      .orderBy(col("h"), col("vec_id")).limit(n)
      .select("v").collect()
      .map(_.getSeq[Double](0).toArray)

  /** Collect the bounded hash-ordered training sample and fit the
    * quantizer. The collect is ≤ 256·k rows by construction.
    */
  private def fitQuantizer(s: SparkSession, dir: String): Array[Array[Double]] = {
    val sample = hashSample(vecsDouble(s, dir), IvfSampleFactor * IvfCells)
    if (sample.isEmpty) Array.empty else lloydFit(sample, IvfCells, IvfIters)
  }

  /** IVF ANN top-5 (see [[q55AnnIvf]] for the gated witness form). */
  private[graft] def ivfTop5(s: SparkSession, dir: String): DataFrame = {
    val cents = fitQuantizer(s, dir)
    // empty corpus: no quantizer, no candidates, no neighbors
    if (cents.isEmpty)
      return vecsDouble(s, dir).limit(0).select(
        col("vec_id").as("qid"), col("vec_id"),
        lit(0.0).as("sim"), lit(0L).as("rn"))
    val bc = s.sparkContext.broadcast(cents)
    // argmin over ≤IvfCells centroids per row: genuine imperative
    // per-row compute over driver-fit state — the documented UDF
    // exception (a Catalyst expression would need the centroid matrix
    // as a 1024-literal tree)
    val assignCell = udf((v: Seq[java.lang.Double]) => {
      val a = unbox(v); val cs = bc.value
      var best = 0; var bd = Double.MaxValue; var c = 0
      while (c < cs.length) {
        val d = dist2(a, cs(c))
        if (d < bd) { bd = d; best = c }
        c += 1
      }
      best
    })
    val probeCells = udf((v: Seq[java.lang.Double]) => {
      val a = unbox(v); val cs = bc.value
      cs.indices.map(c => (dist2(a, cs(c)), c))
        .sortBy(identity).take(NProbe).map(_._2)
    })
    val vecs = vecsDouble(s, dir)
    val queries = vecs.filter(col("vec_id") < 50)
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        explode(probeCells(col("v"))).as("cell"))
    val cands = vecs.filter(col("vec_id") >= 50)
      .withColumn("cell", assignCell(col("v")))
    val sims = queries.join(cands, "cell")
      .withColumn("sim", round(cosine_similarity(col("qv"), col("v")), 6))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("sim").desc, col("vec_id"))
    sims.withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 5)
      .select(col("qid"), col("vec_id"), col("sim"), col("rn"))
      .orderBy("qid", "rn")
  }

  /** Gated IVF ANN: the ε-approximation witness of [[ivfTop5]]. */
  def q55AnnIvf(s: SparkSession, dir: String): DataFrame =
    epsWitness(q45CosineTopK(s, dir), ivfTop5(s, dir))

  // ---- IVF-ADC with exact re-rank (the billion-scale composition) ----

  /** How many ADC-ranked candidates per query survive into the exact
    * re-rank. The knob trades re-rank cost (R full vectors fetched per
    * query) against how much ADC coding error can demote a true
    * neighbor past the cut. On this corpus the ADC ordering is noisy —
    * near-uniform vectors put the whole candidate set within a few
    * code-widths of each other — so R must be deep enough to swallow
    * that noise. Measured (ProfileAdc) max witness delta by R at
    * sf0.001/0.01/0.1: R=64 → .065/.089/.101 (sf0.1 BREACHES Eps);
    * R=128 → .065/.066/.099; R=256 → .065/.066/.070 — identical to
    * plain IVF's floor (.066/.070), i.e. at R=256 the ADC stage loses
    * nothing and the residual error is all coarse-cell routing. Keep
    * R=256: per query it bounds the exact-distance work and the full-
    * vector fetch regardless of corpus size, which is the property
    * that matters at 100 TB (R/|cell| shrinks as the corpus grows;
    * the witness floor is set by the IVF recall, not the ADC).
    */
  val PqRerankCandidates = 256

  /** IVF-ADC top-5 (Jégou, Douze, Schmid, TPAMI 2011 — the FAISS
    * IVFADC layout, expressed relationally): the coarse quantizer of
    * [[ivfTop5]] routes vectors to cells; each vector's RESIDUAL from
    * its cell centroid is product-quantized to `PqSubspaces` 4-bit
    * codes; a query probes `NProbe` cells, precomputes one
    * (subspace × codeword) distance table per probed cell, and scores
    * every candidate in the cell with `PqSubspaces` table lookups —
    * never touching the candidate's floats. The ADC top
    * [[PqRerankCandidates]] then re-rank by EXACT cosine over the full
    * vectors.
    *
    * This is the composition that actually runs at 100 TB: the hot
    * corpus scan reads (vec_id, cell, 8-byte code) — a 64× smaller
    * column than the float vectors, with O(M) table lookups per
    * candidate instead of O(d) multiplies — and the full vectors are
    * fetched for only R rows per query, a bounded semi-join against
    * the corpus. Quantizer and codebooks are the shared sample-fit
    * machinery ([[hashSample]]/[[lloydFit]]); the ADC tables are
    * (|Q|·NProbe·M·PqCodes) doubles — metadata-sized — built on the
    * driver from the SAME bounded query set the exact baseline
    * restricts to, and broadcast.
    */
  /** A fitted IVF-PQ model: coarse centroids + per-subspace residual
    * codebooks. Factored so the SAME frozen model can encode a base
    * build, encode a later increment (q199's day-2 path), and build
    * query-side ADC tables — the FAISS separation of train / add /
    * search.
    */
  private[graft] final case class PqIndexModel(
      cents: Array[Array[Double]],
      books: Array[Array[Array[Double]]],
      dim: Int, dsub: Int)

  /** Train phase: coarse quantizer + PQ codebooks fit on residuals
    * (v − centroid(cell)) — the IVFADC refinement: residuals
    * concentrate near 0 regardless of which cell a vector lives in,
    * so one shared codebook set serves all cells. Same bounded
    * hash-ordered sample as the coarse quantizer. None on an empty
    * corpus.
    */
  private[graft] def fitIvfPq(s: SparkSession, dir: String)
      : Option[PqIndexModel] = {
    val M = Vectors.PqSubspaces
    val cents = fitQuantizer(s, dir)
    if (cents.isEmpty) return None
    val sample = hashSample(vecsDouble(s, dir), IvfSampleFactor * IvfCells)
    val dim = ((sample.map(_.length).max + M - 1) / M) * M
    val dsub = dim / M
    val residuals = sample.map { v =>
      val c = cents(nearest(v, cents))
      Array.tabulate(dim)(i => (if (i < v.length) v(i) else 0.0) -
        (if (i < c.length) c(i) else 0.0))
    }
    val books: Array[Array[Array[Double]]] = Array.tabulate(M)(m =>
      lloydFit(residuals.map(_.slice(m * dsub, (m + 1) * dsub)),
        Vectors.PqCodes, Vectors.PqIters))
    Some(PqIndexModel(cents, books, dim, dsub))
  }

  /** Add phase: one pass over `vecs` builds the compressed index rows
    * (vec_id, cell, M 4-bit codes) — the column the ADC scan reads.
    * The model is broadcast; encoding is stateless, so a later batch
    * encoded with the SAME model appends consistently.
    */
  private[graft] def encodeIvfPq(s: SparkSession, vecs: DataFrame,
      model: PqIndexModel): DataFrame = {
    val bcIdx = s.sparkContext.broadcast((model.cents, model.books))
    val dsub = model.dsub
    val M = Vectors.PqSubspaces
    val encode = udf((vv: Seq[java.lang.Double]) => {
      val v = unbox(vv)
      val (cs, bks) = bcIdx.value
      val cell = nearest(v, cs)
      val cent = cs(cell)
      val code = Array.tabulate(M) { m =>
        val r = new Array[Double](dsub)
        var i = 0
        while (i < dsub) {
          val gi = m * dsub + i
          r(i) = (if (gi < v.length) v(gi) else 0.0) -
            (if (gi < cent.length) cent(gi) else 0.0)
          i += 1
        }
        nearest(r, bks(m))
      }
      (cell, code.toSeq)
    })
    vecs.withColumn("enc", encode(col("v")))
      .select(col("vec_id"), col("enc._1").as("cell"),
        col("enc._2").as("code"))
  }

  /** Search phase: ADC-score an encoded index against the bounded
    * query set (vec_id < 50), exact-re-rank the top `rerank`. The ADC
    * tables are (|Q|·NProbe·M·PqCodes) doubles — metadata-sized —
    * built on the driver from the same bounded query set the exact
    * baseline restricts to, and broadcast; full vectors are fetched
    * for only R rows per query from `dir`'s embeddings.
    */
  private[graft] def adcServe(s: SparkSession, dir: String,
      model: PqIndexModel, index: DataFrame, rerank: Int): DataFrame = {
    val M = Vectors.PqSubspaces
    val vecs = vecsDouble(s, dir)
    val qRows = vecs.filter(col("vec_id") < 50)
      .select(col("vec_id"), col("v")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
    val adcTables: Map[(Long, Int), Array[Array[Double]]] = (for {
      (qid, qv) <- qRows
      cell <- model.cents.indices.map(c => (dist2(qv, model.cents(c)), c))
        .sortBy(identity).take(NProbe).map(_._2)
    } yield {
      val cent = model.cents(cell)
      val rq = Array.tabulate(model.dim)(i =>
        (if (i < qv.length) qv(i) else 0.0) -
          (if (i < cent.length) cent(i) else 0.0))
      (qid, cell) -> Array.tabulate(M)(m =>
        Array.tabulate(Vectors.PqCodes)(c =>
          dist2(rq.slice(m * model.dsub, (m + 1) * model.dsub),
            model.books(m)(c))))
    }).toMap
    val bcTables = s.sparkContext.broadcast(adcTables)
    val adcDist = udf((qid: Long, cell: Int, code: Seq[Int]) => {
      val t = bcTables.value((qid, cell))
      var d = 0.0; var m = 0
      while (m < t.length) { d += t(m)(code(m)); m += 1 }
      d
    })
    import s.implicits._
    val probes = adcTables.keys.toSeq.sorted.toDF("qid", "cell")
    val scored = index.join(broadcast(probes), "cell")
      .withColumn("adc", adcDist(col("qid"), col("cell"), col("code")))
    val wAdc = Window.partitionBy(col("qid"))
      .orderBy(col("adc"), col("vec_id"))
    val finalists = scored.withColumn("arn", row_number().over(wAdc))
      .filter(col("arn") <= rerank)
      .select(col("qid"), col("vec_id"))
    // exact re-rank: full vectors fetched for R rows per query only
    val queries = s.createDataFrame(qRows.toSeq.map { case (q, v) =>
      (q, v.toSeq) }).toDF("qid", "qv")
    val sims = finalists
      .join(vecs.select(col("vec_id"), col("v")), "vec_id")
      .join(broadcast(queries), "qid")
      .withColumn("sim", round(cosine_similarity(col("qv"), col("v")), 6))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("sim").desc, col("vec_id"))
    sims.withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 5)
      .select(col("qid"), col("vec_id"), col("sim"), col("rn"))
      .orderBy("qid", "rn")
  }

  private[graft] def emptyTopK(s: SparkSession, dir: String): DataFrame =
    vecsDouble(s, dir).limit(0).select(
      col("vec_id").as("qid"), col("vec_id"),
      lit(0.0).as("sim"), lit(0L).as("rn"))

  private[graft] def ivfPqTop5(s: SparkSession, dir: String,
      rerank: Int = PqRerankCandidates): DataFrame =
    fitIvfPq(s, dir) match {
      case None => emptyTopK(s, dir)
      case Some(model) =>
        val index = encodeIvfPq(s,
          vecsDouble(s, dir).filter(col("vec_id") >= 50), model)
        adcServe(s, dir, model, index, rerank)
    }

  /** Gated IVF-ADC: the ε-approximation witness of [[ivfPqTop5]]. */
  def q187AnnIvfPq(s: SparkSession, dir: String): DataFrame =
    epsWitness(q45CosineTopK(s, dir), ivfPqTop5(s, dir))

  /** PERSISTED ANN index, served from the lake — the production
    * lifecycle q187 computes in one breath, split into the FAISS
    * train / add / search phases with the index durable between them:
    *
    *  1. build: fit the IVF-PQ model, encode the base corpus
    *     (vec_id % 10 != 0), and CREATE a MiniLake codes table —
    *     (vec_id, cell, code), the 64×-compressed scan column;
    *  2. increment: encode the day-2 batch (vec_id % 10 == 0) with
    *     the SAME frozen model and APPEND — no refit, no rewrite of
    *     the base files (the q153 incremental-dedup discipline
    *     applied to a vector index);
    *  3. serve: ADC-score the lake SNAPSHOT (base + increment) and
    *     exact-re-rank, exactly [[adcServe]].
    *
    * Every phase is deterministic, so the served result must pass the
    * same ε-witness as q187 — which also proves the codes survived
    * the parquet/commit-log roundtrip bit-exactly and that the
    * increment joined the same candidate universe. At 100 TB this is
    * the shape that matters: the model is fit once, the encode is an
    * append-only streaming job, and query serving reads only the
    * compressed snapshot.
    */
  def q199AnnIndexLifecycle(s: SparkSession, dir: String): DataFrame = {
    val served = fitIvfPq(s, dir) match {
      case None => emptyTopK(s, dir)
      case Some(model) =>
        val corpus = vecsDouble(s, dir).filter(col("vec_id") >= 50)
        val lakePath = graft.Scratch.dir("graft_ann_index").toString
        val lake = graft.lake.MiniLake(s, lakePath)
        lake.create(encodeIvfPq(s,
          corpus.filter(col("vec_id") % 10 =!= 0), model))
        lake.append(encodeIvfPq(s,
          corpus.filter(col("vec_id") % 10 === 0), model))
        adcServe(s, dir, model, lake.snapshot()
          .select("vec_id", "cell", "code"), PqRerankCandidates)
    }
    epsWitness(q45CosineTopK(s, dir), served)
  }

  /** Late-interaction (MaxSim) scoring — the ColBERT retrieval scorer:
    * a query is a SET of vectors, a document a SET of vectors (here:
    * each label's corpus vectors stand in for one multi-vector
    * document), and score(doc) = Σ_q max_d cos(q, d). Captures
    * fine-grained term-level matching that single-vector cosine
    * (q45) averages away.
    *
    * Scale shape: the query set is bounded and broadcast; ONE scan of
    * the corpus computes all (query, vector) sims (codegen'd native
    * expression, no shuffle on the corpus side); the max-per-(doc,
    * query) and sum-per-doc reductions are two map-side-combinable
    * aggregates over (docs × |Q|) keys — never materializing a
    * similarity matrix. Exactness: each sim rounds to 6 dp and the
    * final sum runs in decimal, so addition order cannot flip a bit
    * (the q140 rule applied to floats).
    */
  def q169Maxsim(s: SparkSession, dir: String): DataFrame = {
    val vecs = vecsDouble(s, dir)
    val queries = vecs.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val corpus = vecs.filter(col("vec_id") >= 5)
    val sims = corpus.join(broadcast(queries))
      .select(col("label"), col("qid"),
        round(cosine_similarity(col("qv"), col("v")), 6)
          .cast("decimal(18,6)").as("sim"))
    sims.groupBy("label", "qid").agg(max("sim").as("best"))
      .groupBy("label").agg(sum("best").cast("double").as("maxsim_score"))
      .select(col("label"), col("maxsim_score"))
      .orderBy(col("maxsim_score").desc, col("label"))
  }

  val q169Oracle: String =
    """WITH e AS (SELECT vec_id, label,
      |   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      | FROM embeddings),
      |sims AS (SELECT c.label, q.vec_id AS qid,
      |   CAST(round(list_cosine_similarity(q.v, c.v), 6)
      |     AS DECIMAL(18,6)) AS sim
      | FROM e q JOIN e c ON q.vec_id < 5 AND c.vec_id >= 5),
      |best AS (SELECT label, qid, max(sim) AS best
      | FROM sims GROUP BY label, qid)
      |SELECT label, CAST(sum(best) AS DOUBLE) AS maxsim_score
      |FROM best GROUP BY label
      |ORDER BY maxsim_score DESC, label""".stripMargin

  /** nDCG rank-discount table 1/log₂(i+1), i = 1..10, pre-rounded to
    * 6 dp and embedded as DECIMAL LITERALS in both engines — the only
    * transcendental in the metric, removed from runtime entirely (the
    * libm-parity device from q191). `NdcgCum(k)` is the prefix sum:
    * the ideal DCG of k relevant documents.
    */
  val NdcgK = 10
  val NdcgDisc: Seq[String] = Seq("1.000000", "0.630930", "0.500000",
    "0.430677", "0.386853", "0.356207", "0.333333", "0.315465",
    "0.301030", "0.289065")
  val NdcgCum: Seq[String] = Seq("0.000000", "1.000000", "1.630930",
    "2.130930", "2.561607", "2.948460", "3.304667", "3.638000",
    "3.953465", "4.254495", "4.543560")

  /** Binary-relevance nDCG@10 of the brute-force cosine retriever,
    * scored against the embedding labels (candidate relevant ⇔ label
    * equals the query's) — the retrieval-quality metric that closes
    * the ANN loop: q45/q46/q55/q187 build retrievers, this grades one.
    *
    * Exactness: gains are integers, discounts are the shared
    * [[NdcgDisc]] decimal literals, so DCG is an order-independent
    * DECIMAL sum; IDCG is one [[NdcgCum]] lookup at min(n_rel, 10)
    * (binary relevance ⇒ ideal ranking = any n_rel relevant docs
    * first); the single ndcg division happens once, on identical
    * doubles, rounded to 6 dp.
    *
    * Scale: the query set is bounded (vec_id < 10) and broadcast; the
    * rank cut runs through the [[graft.plans.TopKPerGroup]] physical
    * operator — partial per-partition heaps prune the per-query
    * stream to ≤ 10 rows BEFORE the exchange, so the shuffle carries
    * O(partitions · queries · 10) rows however large the corpus is
    * (the window alternative sorts the full Q×N sim stream). n_rel
    * comes from the same scan as a map-side-combinable aggregate.
    * sf0.001 exercises the n_rel < 10 arm of the IDCG cap, sf0.01+
    * the saturated arm.
    */
  def q213NdcgAtK(s: SparkSession, dir: String): DataFrame =
    ndcgFrom(s, vecsDouble(s, dir))

  /** [[q213NdcgAtK]] over an explicit `(vec_id, label, v)` frame —
    * factored so NdcgSpec can pin the n_rel < 10 IDCG arm and the
    * idcg = 0 guard on synthetic corpora (the parquet gate corpora
    * saturate the cap: every label has ≥ 10 relevant candidates at
    * every SF).
    */
  private[graft] def ndcgFrom(s: SparkSession, vecs: DataFrame): DataFrame = {
    val queries = vecs.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("label").as("qlabel"),
        col("v").as("qv"))
    val cands = vecs.filter(col("vec_id") >= 10)
    val sims = cands.join(queries.hint("broadcast"))
      .withColumn("sim", round(cosine_similarity(col("qv"), col("v")), 6))
      .withColumn("rel",
        when(col("label") === col("qlabel"), 1L).otherwise(0L))
      .select(col("qid"), col("vec_id"), col("sim"), col("rel"))
    val nrel = sims.groupBy("qid").agg(sum("rel").as("n_rel"))
    val top = graft.plans.TopKPerGroup.topK(sims, Seq("qid"),
      Seq(("sim", false), ("vec_id", true)), NdcgK)
    val w = Window.partitionBy("qid")
      .orderBy(col("sim").desc, col("vec_id"))
    val disc = broadcast(s.createDataFrame(
        NdcgDisc.zipWithIndex.map { case (d, i) => (i + 1L, d) })
      .toDF("rn", "d_str")
      .select(col("rn"), col("d_str").cast("decimal(9,6)").as("d")))
    val cum = broadcast(s.createDataFrame(
        NdcgCum.zipWithIndex.map { case (c, k) => (k.toLong, c) })
      .toDF("k_ideal", "c_str")
      .select(col("k_ideal"), col("c_str").cast("decimal(12,6)").as("idcg")))
    val dcg = top.withColumn("rn", row_number().over(w).cast("long"))
      .join(disc, "rn")
      .groupBy("qid")
      .agg(sum(when(col("rel") === 1L, col("d"))
        .otherwise(lit("0.000000").cast("decimal(9,6)"))).as("dcg"))
    dcg.join(nrel, "qid")
      .withColumn("k_ideal", least(col("n_rel"), lit(NdcgK.toLong)))
      .join(broadcast(cum), "k_ideal")
      .select(col("qid"), col("n_rel"),
        col("dcg").cast("double").as("dcg"),
        col("idcg").cast("double").as("idcg"),
        when(col("idcg") > 0, round(col("dcg").cast("double") /
            col("idcg").cast("double"), 6))
          .otherwise(lit(0.0)).as("ndcg"))
      .orderBy("qid")
  }

  val q213Oracle: String = {
    val discRows = NdcgDisc.zipWithIndex
      .map { case (d, i) => s"(${i + 1}, CAST($d AS DECIMAL(9,6)))" }
      .mkString(", ")
    val cumRows = NdcgCum.zipWithIndex
      .map { case (c, k) => s"($k, CAST($c AS DECIMAL(12,6)))" }
      .mkString(", ")
    s"""WITH disc(rn, d) AS (VALUES $discRows),
      |cum(k_ideal, idcg) AS (VALUES $cumRows),
      |e AS (SELECT vec_id, label,
      |   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      | FROM embeddings WHERE embedding IS NOT NULL),
      |sims AS (SELECT q.vec_id AS qid, c.vec_id,
      |   round(list_cosine_similarity(q.v, c.v), 6) AS sim,
      |   CASE WHEN c.label = q.label THEN 1 ELSE 0 END AS rel
      | FROM e q JOIN e c ON q.vec_id < 10 AND c.vec_id >= 10),
      |nrel AS (SELECT qid, CAST(sum(rel) AS BIGINT) AS n_rel
      | FROM sims GROUP BY qid),
      |ranked AS (SELECT *, CAST(row_number() OVER (PARTITION BY qid
      |     ORDER BY sim DESC, vec_id) AS BIGINT) AS rn FROM sims),
      |dcg AS (SELECT qid,
      |   sum(CASE WHEN rel = 1 THEN d
      |            ELSE CAST(0.000000 AS DECIMAL(9,6)) END) AS dcg
      | FROM ranked JOIN disc USING (rn) WHERE rn <= $NdcgK
      | GROUP BY qid)
      |SELECT qid, n_rel, CAST(dcg AS DOUBLE) AS dcg,
      |  CAST(idcg AS DOUBLE) AS idcg,
      |  CASE WHEN idcg > 0
      |       THEN round(CAST(dcg AS DOUBLE) / CAST(idcg AS DOUBLE), 6)
      |       ELSE 0.0 END AS ndcg
      |FROM dcg JOIN nrel USING (qid)
      |JOIN cum ON least(n_rel, $NdcgK) = k_ideal
      |ORDER BY qid""".stripMargin
  }

  /** Int8 scalar-quantization distortion report (q286) — the storage
    * decision every embedding corpus makes (float32 → int8 cuts the
    * ANN index 4×; FAISS SQ8 / Milvus SQ8 territory): symmetric
    * per-corpus scale = max |component| (an exact max, order-immune),
    * code = round(x/scale·127), and the report quantifies what the
    * compression costs — mean/max absolute reconstruction error and
    * the saturated-code count. Per-component error terms are 9-dp
    * rounded and DECIMAL-quantized INSIDE the per-vector fold (the
    * q253 discipline), so corpus sums are exact decimal; max is
    * order-immune by nature. One scan; the scale is a 1-row
    * broadcast. At 100 TB nothing changes: two passes over the
    * embedding column, no shuffle beyond the 1-row aggregates.
    */
  def q286ScalarQuantization(s: SparkSession, dir: String): DataFrame = {
    val vecs = vecsDouble(s, dir)
    val scaleRow = vecs.select(max(expr(
      "aggregate(v, CAST(0.0 AS DOUBLE), (a, x) -> greatest(a, abs(x)))"))
      .as("scale"))
    val coded = vecs.crossJoin(broadcast(scaleRow))
      .select(col("vec_id"), col("scale"), col("v"),
        expr("transform(v, x -> CAST(round(x / scale * 127.0, 0) " +
          "AS BIGINT))").as("c"))
    val per = coded.select(col("vec_id"), col("scale"),
      expr("aggregate(sequence(1, size(v)), CAST(0 AS DECIMAL(28,9)), " +
        "(acc, i) -> CAST(acc + CAST(round(abs(v[i-1] - c[i-1] * scale " +
        "/ 127.0), 9) AS DECIMAL(28,9)) AS DECIMAL(28,9)))").as("errsum"),
      expr("aggregate(sequence(1, size(v)), CAST(0.0 AS DOUBLE), " +
        "(a, i) -> greatest(a, abs(v[i-1] - c[i-1] * scale / 127.0)))")
        .as("maxerr"),
      expr("size(filter(c, x -> abs(x) = 127))").cast("long").as("sat"),
      size(col("v")).cast("long").as("d"))
    per.agg(count(lit(1)).as("n_vecs"),
      round(max("scale"), 6).as("scale"),
      round(sum("errsum").cast("double") / sum("d"), 6)
        .as("mean_abs_err"),
      round(max("maxerr"), 6).as("max_abs_err"),
      sum("sat").cast("long").as("n_saturated"))
  }

  val q286Oracle: String =
    """WITH e AS (SELECT vec_id,
      |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      | FROM embeddings WHERE embedding IS NOT NULL),
      |sc AS (SELECT max(list_reduce(list_transform(v, x -> abs(x)),
      |  (a, b) -> greatest(a, b))) AS scale FROM e),
      |q AS (SELECT vec_id, v, scale,
      |  list_transform(v, x -> CAST(round(x / scale
      |    * 127.0) AS BIGINT)) AS c FROM e CROSS JOIN sc),
      |er AS (SELECT vec_id, scale,
      |  list_sum(list_transform(range(1, len(v) + 1), i ->
      |    CAST(round(abs(v[i] - c[i] * scale / 127.0), 9)
      |      AS DECIMAL(28,9)))) AS errsum,
      |  list_reduce(list_transform(range(1, len(v) + 1), i ->
      |    abs(v[i] - c[i] * scale / 127.0)),
      |    (a, b) -> greatest(a, b)) AS maxerr,
      |  len(list_filter(c, x -> abs(x) = 127)) AS sat,
      |  len(v) AS d FROM q)
      |SELECT CAST(count(*) AS BIGINT) AS n_vecs,
      |  round(max(scale), 6) AS scale,
      |  round(CAST(sum(errsum) AS DOUBLE) / sum(d), 6) AS mean_abs_err,
      |  round(max(maxerr), 6) AS max_abs_err,
      |  CAST(sum(sat) AS BIGINT) AS n_saturated
      |FROM er""".stripMargin

  /** Matryoshka truncation overlap (q288) — the MRL question
    * (Kusupati et al. 2022): how much of the exact top-10 neighbor
    * set survives when vectors are truncated to their first half
    * (the storage/latency trade adaptive-retrieval systems take)?
    * Both rankings are EXACT brute force over the same broadcast grid
    * as q45 (query side bounded, 6-dp-rounded sims, vec_id
    * tie-break), so the overlap histogram is deterministic — no
    * recall estimate, a measurement. The testdata's synthetic
    * embeddings carry no MRL training, so overlap is honestly
    * partial — exactly what the report is for.
    */
  def q288MatryoshkaOverlap(s: SparkSession, dir: String): DataFrame = {
    val vecs = vecsDouble(s, dir)
    val queries = vecs.filter(col("vec_id") < 50)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val corpus = vecs.filter(col("vec_id") >= 50)
    val sims = queries.join(corpus.hint("broadcast"))
      .select(col("qid"), col("vec_id"),
        round(cosine_similarity(col("qv"), col("v")), 6).as("sim_full"),
        round(cosine_similarity(slice(col("qv"), 1, 32),
          slice(col("v"), 1, 32)), 6).as("sim_half"))
    val wF = Window.partitionBy("qid")
      .orderBy(col("sim_full").desc, col("vec_id"))
    val wH = Window.partitionBy("qid")
      .orderBy(col("sim_half").desc, col("vec_id"))
    val ranked = sims
      .withColumn("rf", row_number().over(wF).cast("long"))
      .withColumn("rh", row_number().over(wH).cast("long"))
    ranked.groupBy("qid")
      .agg(sum(when(col("rf") <= 10 && col("rh") <= 10, 1L)
        .otherwise(0L)).as("overlap10"))
      .groupBy("overlap10")
      .agg(count(lit(1)).as("n_queries"))
      .orderBy("overlap10")
  }

  val q288Oracle: String =
    """WITH e AS (SELECT vec_id,
      |   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      | FROM embeddings WHERE embedding IS NOT NULL),
      |sims AS (
      | SELECT q.vec_id AS qid, c.vec_id AS vec_id,
      |   round(list_cosine_similarity(q.v, c.v), 6) AS sim_full,
      |   round(list_cosine_similarity(q.v[1:32], c.v[1:32]), 6)
      |     AS sim_half
      | FROM e q JOIN e c ON q.vec_id < 50 AND c.vec_id >= 50),
      |ranked AS (
      | SELECT *, row_number() OVER (PARTITION BY qid
      |     ORDER BY sim_full DESC, vec_id) AS rf,
      |   row_number() OVER (PARTITION BY qid
      |     ORDER BY sim_half DESC, vec_id) AS rh
      | FROM sims),
      |ov AS (SELECT qid,
      |  CAST(sum(CASE WHEN rf <= 10 AND rh <= 10 THEN 1 ELSE 0 END)
      |    AS BIGINT) AS overlap10
      | FROM ranked GROUP BY qid)
      |SELECT overlap10, count(*) AS n_queries
      |FROM ov GROUP BY overlap10 ORDER BY overlap10""".stripMargin

  /** Margin-based bitext mining (q297) — Artetxe & Schwenk, ACL 2019
    * ("Margin-based Parallel Corpus Mining with Multilingual Sentence
    * Embeddings"; the CCMatrix/LASER mining criterion): a candidate
    * pair (x, y) scores cos(x,y) normalized by the MEAN similarity of
    * each side's k nearest neighbors —
    * `margin = cos(x,y) / (Σ_NNk(x)/2k + Σ_NNk(y)/2k)` — so a hub
    * vector that is "close to everything" cannot flood the mined set
    * with false pairs (raw-cosine thresholding's failure mode). Lang A
    * is the bounded query slice (even vec_id < 100), lang B the odd
    * vectors; k = 4; the mined pair per source is its forward top-1.
    *
    * Determinism: 6-dp sims, exact DECIMAL kNN sums, and the margin
    * as `(sim · 2k) / (sumA + sumB)` — ONE identically-parenthesized
    * float division, 6-dp rounded, vec_id tie-breaks throughout.
    *
    * Scale: the grid is Q×N with Q bounded and the corpus side
    * broadcast (q45's contract); at corpus scale both directions ride
    * the q46/q55 ANN candidate sets (the paper mines from FAISS
    * shortlists the same way) and this exact grid is their recall
    * oracle. The margin itself is a per-candidate scalar — it adds
    * no shuffle to whatever candidate generation supplies.
    */
  def q297BitextMining(s: SparkSession, dir: String): DataFrame = {
    val vecs = vecsDouble(s, dir)
    val srcs = vecs.filter(col("vec_id") % 2 === 0 && col("vec_id") < 100)
      .select(col("vec_id").as("src_id"), col("v").as("sv"))
    val tgts = vecs.filter(col("vec_id") % 2 === 1)
      .select(col("vec_id").as("tgt_id"), col("v").as("tv"))
    val grid = srcs.join(tgts.hint("broadcast"))
      .withColumn("sim", round(cosine_similarity(col("sv"), col("tv")), 6))
      .select("src_id", "tgt_id", "sim")
    val wS = Window.partitionBy("src_id")
      .orderBy(col("sim").desc, col("tgt_id"))
    val fwd = grid.withColumn("rn", row_number().over(wS))
    val fwdSum = fwd.filter(col("rn") <= 4).groupBy("src_id")
      .agg(sum(col("sim").cast("decimal(18,6)")).as("ssum"))
    val wT = Window.partitionBy("tgt_id")
      .orderBy(col("sim").desc, col("src_id"))
    val bwdSum = grid.withColumn("rn", row_number().over(wT))
      .filter(col("rn") <= 4).groupBy("tgt_id")
      .agg(sum(col("sim").cast("decimal(18,6)")).as("tsum"))
    fwd.filter(col("rn") === 1)
      .join(fwdSum, "src_id").join(bwdSum, "tgt_id")
      .select(col("src_id"), col("tgt_id"),
        round((col("sim") * lit(8.0)) /
          (col("ssum") + col("tsum")).cast("double"), 6).as("margin"))
      .orderBy("src_id")
  }

  val q297Oracle: String =
    """WITH e AS (SELECT vec_id,
      |   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      | FROM embeddings WHERE embedding IS NOT NULL),
      |s AS (SELECT vec_id AS src_id, v FROM e
      |  WHERE vec_id % 2 = 0 AND vec_id < 100),
      |t AS (SELECT vec_id AS tgt_id, v FROM e WHERE vec_id % 2 = 1),
      |grid AS (SELECT src_id, tgt_id,
      |   round(list_cosine_similarity(s.v, t.v), 6) AS sim
      | FROM s CROSS JOIN t),
      |fwd AS (SELECT *, row_number() OVER (PARTITION BY src_id
      |   ORDER BY sim DESC, tgt_id) AS rn FROM grid),
      |fsum AS (SELECT src_id, sum(CAST(sim AS DECIMAL(18,6))) AS ssum
      | FROM fwd WHERE rn <= 4 GROUP BY src_id),
      |bwd AS (SELECT *, row_number() OVER (PARTITION BY tgt_id
      |   ORDER BY sim DESC, src_id) AS rn FROM grid),
      |bsum AS (SELECT tgt_id, sum(CAST(sim AS DECIMAL(18,6))) AS tsum
      | FROM bwd WHERE rn <= 4 GROUP BY tgt_id),
      |top1 AS (SELECT src_id, tgt_id, sim FROM fwd WHERE rn = 1)
      |SELECT p.src_id, p.tgt_id,
      |  round((p.sim * 8.0) / CAST(f.ssum + b.tsum AS DOUBLE), 6)
      |    AS margin
      |FROM top1 p
      |JOIN fsum f USING (src_id) JOIN bsum b USING (tgt_id)
      |ORDER BY src_id""".stripMargin

  /** Hard-negative mining (q298) — the contrastive-training batch
    * builder (DPR, Karpukhin et al. EMNLP 2020; Sentence-BERT): for
    * each anchor, its nearest SAME-label candidate is the positive and
    * the top-3 most similar DIFFERENT-label candidates are the hard
    * negatives — the triplets a contrastive loss learns most from
    * (random negatives are trivially separable; hard ones carry the
    * gradient). Emits per (anchor, negative): both sims and the
    * anchor's positive, so the downstream loader needs no second pass.
    * Anchors whose label has no candidate representative mine nothing
    * (inner join — mirrored in the oracle).
    *
    * Scale: same bounded-Q broadcast grid as q45; at corpus scale the
    * negative shortlist comes from q46/q55 ANN candidates and the
    * positive from the label index — the margin/top-k machinery here
    * is unchanged.
    */
  def q298HardNegatives(s: SparkSession, dir: String): DataFrame = {
    val vecs = vecsDouble(s, dir)
    val anchors = vecs.filter(col("vec_id") < 50)
      .select(col("vec_id").as("qid"), col("label").as("qlabel"),
        col("v").as("qv"))
    val cands = vecs.filter(col("vec_id") >= 50)
    val grid = anchors.join(cands.hint("broadcast"))
      .withColumn("sim", round(cosine_similarity(col("qv"), col("v")), 6))
      .select(col("qid"), col("qlabel"), col("vec_id"), col("label"),
        col("sim"))
    val wQ = Window.partitionBy("qid")
      .orderBy(col("sim").desc, col("vec_id"))
    val pos = grid.filter(col("label") === col("qlabel"))
      .withColumn("rn", row_number().over(wQ)).filter(col("rn") === 1)
      .select(col("qid"), col("vec_id").as("pos_id"),
        col("sim").as("pos_sim"))
    val negs = grid.filter(col("label") =!= col("qlabel"))
      .withColumn("rn", row_number().over(wQ)).filter(col("rn") <= 3)
      .select(col("qid"), col("vec_id").as("neg_id"),
        col("sim").as("neg_sim"), col("rn").cast("long").as("rn"))
    negs.join(pos, "qid")
      .select(col("qid"), col("neg_id"), col("neg_sim"), col("rn"),
        col("pos_id"), col("pos_sim"))
      .orderBy("qid", "rn")
  }

  val q298Oracle: String =
    """WITH e AS (SELECT vec_id, label,
      |   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      | FROM embeddings WHERE embedding IS NOT NULL),
      |grid AS (
      | SELECT q.vec_id AS qid, q.label AS qlabel, c.vec_id, c.label,
      |   round(list_cosine_similarity(q.v, c.v), 6) AS sim
      | FROM e q JOIN e c ON q.vec_id < 50 AND c.vec_id >= 50),
      |pos AS (
      | SELECT qid, vec_id AS pos_id, sim AS pos_sim,
      |   row_number() OVER (PARTITION BY qid
      |     ORDER BY sim DESC, vec_id) AS rp
      | FROM grid WHERE label = qlabel),
      |negs AS (
      | SELECT qid, vec_id AS neg_id, sim AS neg_sim,
      |   row_number() OVER (PARTITION BY qid
      |     ORDER BY sim DESC, vec_id) AS rn
      | FROM grid WHERE label <> qlabel)
      |SELECT n.qid, n.neg_id, n.neg_sim, CAST(n.rn AS BIGINT) AS rn,
      |  p.pos_id, p.pos_sim
      |FROM negs n JOIN pos p ON n.qid = p.qid AND p.rp = 1
      |WHERE n.rn <= 3
      |ORDER BY n.qid, n.rn""".stripMargin

  def gates: Seq[graft.Gate] = Seq(
    gate("q297_bitext_mining", q297BitextMining, q297Oracle),
    gate("q298_hard_negatives", q298HardNegatives, q298Oracle),
    gate("q44_embedding_near_dup", q44EmbeddingNearDup, q44Oracle),
    gate("q45_cosine_topk", q45CosineTopK, q45Oracle),
    gate("q286_scalar_quantization", q286ScalarQuantization, q286Oracle),
    gate("q288_matryoshka_overlap", q288MatryoshkaOverlap, q288Oracle),
    gate("q213_ndcg_at_k", q213NdcgAtK, q213Oracle),
    gate("q46_ann_lsh", q46AnnLsh, witnessOracle),
    gate("q55_ann_ivf", q55AnnIvf, witnessOracle),
    gate("q169_maxsim", q169Maxsim, q169Oracle),
    gate("q187_ann_ivf_pq", q187AnnIvfPq,
      witnessOracle, graft.Gate.LakeProtocol),
    gate("q199_ann_index_lifecycle", q199AnnIndexLifecycle,
      witnessOracle, graft.Gate.LakeProtocol)
  )
}
