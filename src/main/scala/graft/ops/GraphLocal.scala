// Copyright (c) 2026 graft contributors
// SPDX-License-Identifier: Apache-2.0

package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Single-task exact kernels for the iterative graph gates — the
  * sub-cap arm of the size-based switch that q198's coreness peel
  * proved out (13.6 → 1.45 s at sf0.1): below [[GraphLocal.maxEdges]]
  * the whole fixed-round recurrence runs inside ONE `mapPartitions`
  * task (one Spark job) instead of rounds × (join + aggregate +
  * checkpoint) whose SCHEDULING is the measured floor at gate scale
  * (~0.1-0.2 s per job × 4-8 jobs per round). Above the cap the
  * distributed standing-partition loops in [[Features]] run unchanged
  * — they are the 100 TB path, and SCALE.md keeps measuring them via
  * `graft.arms.forceDistributed=true`.
  *
  * Round-13 extension: the CO-PURCHASE DERIVATION (per-order pair
  * join + distinct/count fold — measured as the dominant cost of
  * every graph gate once the kernels went single-task) moves into the
  * same task, guarded IN-KERNEL instead of by a separate groupBy
  * probe job: the fold counts rows, pair fan-out and part-id range as
  * it goes and bails to an overflow SENTINEL row the moment a bound
  * trips, so the arm decision costs zero extra jobs and the wasted
  * work on overflow is capped by the bounds themselves. Null (ok, pk)
  * rows are filtered before the kernel — exactly the rows the
  * distributed self-join (`a.ok === b.ok`, `a.pk < b.pk`) drops, so
  * the arms stay equal on dirty feeds (NullInputSpec).
  *
  * Every kernel replays the EXACT integer recurrence of its
  * distributed twin (synchronous rounds, floor division, identical
  * tie-breaks, the same IEEE double expressions for the few rounded
  * outputs), so the two arms agree bit-for-bit — GraphSpec pins arm
  * equality on the gate graphs.
  */
object GraphLocal {

  /** Edge ceiling for the single-task arm — the same 4M-edge
    * envelope as [[Features.CorenessLocalMaxEdges]].
    */
  val DefaultMaxEdges = 4000000L

  /** [[DefaultMaxEdges]], or 0 (distributed loops only) under
    * `graft.arms.forceDistributed`, the spec/scale-check device.
    */
  def maxEdges(s: SparkSession): Long =
    graft.GraftSession.localCap(s, DefaultMaxEdges)

  /** CPU ceiling on the oriented wedge fan Σ C(out-deg, 2) for the
    * in-task triangle kernels (q154/q259): the wedge loop never
    * materializes wedges, so this bounds TIME, not memory (worst case
    * E^1.5 ≈ 8×10⁹ probes at the edge cap — the co-purchase graph
    * measures 41M at sf0.1, 3.4% of its bound, but the bound must not
    * trust the data).
    */
  val DefaultMaxWedges = 256000000L

  /** One-job eligibility probe for the single-task EDGE-FRAME arms
    * (pre-derived edges): edge count ≤ `cap` AND no NULLs in `cols`.
    * The tuple encoders the kernels use assert non-null, while the
    * distributed loops are TOTAL on null edges/weights — so a
    * null-carrying frame must take the distributed arm to keep the
    * two arms' domains identical (NullInputSpec fuzzes exactly this).
    */
  def localArmEligible(e: DataFrame, cap: Long,
      cols: Seq[String]): Boolean = {
    val aggs = count(lit(1)).as("n") +:
      cols.map(c => count(col(c)).as(s"nn_$c"))
    val r = e.agg(aggs.head, aggs.tail: _*).head()
    val n = r.getLong(0)
    n <= cap && cols.indices.forall(i => r.getLong(i + 1) == n)
  }

  // ---------------------------------------------------------------
  // Primitive long hash structures. The boxed java.util.HashMap paid
  // ~1.5 s of boxing + rehash on the 1.2M-pair fold alone (measured):
  // every put allocates a Node plus two boxed Longs and the growth
  // path rehashes the whole table repeatedly. These
  // open-addressing tables (power-of-two, linear probe, ≤0.5 load)
  // do the same fold in tens of milliseconds and are what every
  // kernel below uses.
  // ---------------------------------------------------------------

  private[ops] final class LongLongMap(expected: Int) {
    private def pow2(x: Long): Int = {
      var c = 16; while (c < x && c < (1 << 30)) c <<= 1; c
    }
    private var cap = pow2(math.max(8L, expected.toLong) * 2L)
    private var mask = cap - 1
    private var keys = new Array[Long](cap)
    private var vals = new Array[Long](cap)
    private var hasZero = false
    private var zeroVal = 0L
    private var n = 0
    def size: Int = n + (if (hasZero) 1 else 0)
    @inline private def slot(k: Long): Int = {
      var h = k * 0x9E3779B97F4A7C15L
      h ^= (h >>> 32)
      (h & mask).toInt
    }
    private def grow(): Unit = {
      val ok = keys; val ov = vals; val oc = cap
      cap <<= 1; mask = cap - 1
      keys = new Array[Long](cap); vals = new Array[Long](cap)
      var i = 0
      while (i < oc) {
        val k = ok(i)
        if (k != 0L) {
          var j = slot(k)
          while (keys(j) != 0L) j = (j + 1) & mask
          keys(j) = k; vals(j) = ov(i)
        }
        i += 1
      }
    }
    /** vals(key) += delta (insert at delta). */
    def addTo(key: Long, delta: Long): Unit = {
      if (key == 0L) {
        if (!hasZero) { hasZero = true; zeroVal = delta }
        else zeroVal += delta
      } else {
        var j = slot(key)
        while (keys(j) != 0L && keys(j) != key) j = (j + 1) & mask
        if (keys(j) == key) vals(j) += delta
        else {
          keys(j) = key; vals(j) = delta; n += 1
          if (n * 2 >= cap) grow()
        }
      }
    }
    /** vals(key) = min(vals(key), v) (insert at v). */
    def minTo(key: Long, v: Long): Unit = {
      if (key == 0L) {
        if (!hasZero) { hasZero = true; zeroVal = v }
        else if (v < zeroVal) zeroVal = v
      } else {
        var j = slot(key)
        while (keys(j) != 0L && keys(j) != key) j = (j + 1) & mask
        if (keys(j) == key) { if (v < vals(j)) vals(j) = v }
        else {
          keys(j) = key; vals(j) = v; n += 1
          if (n * 2 >= cap) grow()
        }
      }
    }
    def put(key: Long, v: Long): Unit = {
      if (key == 0L) { hasZero = true; zeroVal = v }
      else {
        var j = slot(key)
        while (keys(j) != 0L && keys(j) != key) j = (j + 1) & mask
        if (keys(j) == key) vals(j) = v
        else {
          keys(j) = key; vals(j) = v; n += 1
          if (n * 2 >= cap) grow()
        }
      }
    }
    def getOrElse(key: Long, dflt: Long): Long = {
      if (key == 0L) { if (hasZero) zeroVal else dflt }
      else {
        var j = slot(key)
        while (keys(j) != 0L && keys(j) != key) j = (j + 1) & mask
        if (keys(j) == key) vals(j) else dflt
      }
    }
    def foreachEntry(f: (Long, Long) => Unit): Unit = {
      if (hasZero) f(0L, zeroVal)
      var i = 0
      while (i < cap) { if (keys(i) != 0L) f(keys(i), vals(i)); i += 1 }
    }
  }

  private[ops] final class LongSet(expected: Int) {
    private def pow2(x: Long): Int = {
      var c = 16; while (c < x && c < (1 << 30)) c <<= 1; c
    }
    private var cap = pow2(math.max(8L, expected.toLong) * 2L)
    private var mask = cap - 1
    private var keys = new Array[Long](cap)
    private var hasZero = false
    private var n = 0
    def size: Int = n + (if (hasZero) 1 else 0)
    @inline private def slot(k: Long): Int = {
      var h = k * 0x9E3779B97F4A7C15L
      h ^= (h >>> 32)
      (h & mask).toInt
    }
    private def grow(): Unit = {
      val ok = keys; val oc = cap
      cap <<= 1; mask = cap - 1
      keys = new Array[Long](cap)
      var i = 0
      while (i < oc) {
        val k = ok(i)
        if (k != 0L) {
          var j = slot(k)
          while (keys(j) != 0L) j = (j + 1) & mask
          keys(j) = k
        }
        i += 1
      }
    }
    /** Adds key; returns true if it was absent. */
    def add(key: Long): Boolean = {
      if (key == 0L) { val fresh = !hasZero; hasZero = true; fresh }
      else {
        var j = slot(key)
        while (keys(j) != 0L && keys(j) != key) j = (j + 1) & mask
        if (keys(j) == key) false
        else {
          keys(j) = key; n += 1
          if (n * 2 >= cap) grow()
          true
        }
      }
    }
    def contains(key: Long): Boolean = {
      if (key == 0L) hasZero
      else {
        var j = slot(key)
        while (keys(j) != 0L && keys(j) != key) j = (j + 1) & mask
        keys(j) == key
      }
    }
  }

  /** Spark's `round(double, 6)` exactly: shortest-decimal BigDecimal
    * (valueOf) quantized HALF_UP — the expression every rounded double
    * output replays so kernel and distributed arm agree bit-for-bit.
    */
  @inline private def round6(x: Double): Double =
    java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  // ---------------------------------------------------------------
  // In-task co-purchase pair derivation (guarded).
  // ---------------------------------------------------------------

  /** Result of the guarded in-task pair fold: `flat` holds the
    * distinct (u, v) pairs with u < v at stride 2 (u at 2i, v at
    * 2i+1), `ws` the per-pair distinct-order counts, both sorted by
    * (u, v); a `null` PairFold means a bound tripped (rows > 2·cap,
    * raw pair fan > cap, or a pk outside [0, 2³²)) and the caller
    * must emit the overflow sentinel.
    */
  private final class PairFold(val flat: Array[Long], val ws: Array[Long]) {
    def m: Int = ws.length
  }

  /** The guarded fold itself: dedupe (ok, pk) per order, form
    * within-order pairs (u < v by the per-order sort), count distinct
    * orders per pair — exactly `li.distinct → self-join(a.ok = b.ok,
    * a.pk < b.pk) → groupBy(u, v).count`. Bounds are checked AS the
    * fold runs, so overflow costs at most the bound itself.
    */
  private def foldPairs(it: Iterator[(Long, Long)], minOrders: Long,
      cap: Long): PairFold = {
    val rowCap = 2L * cap
    // pass 1: buffer rows, mapping ok -> dense order id
    val okIdx = new LongLongMap(1 << 14)
    var oids = new Array[Int](1 << 14)
    var pks = new Array[Long](1 << 14)
    var nRows = 0
    var maxPk = 0L
    var minPk = 0L
    while (it.hasNext) {
      val (ok, pk) = it.next()
      if (nRows >= rowCap) return null
      if (nRows == oids.length) {
        oids = java.util.Arrays.copyOf(oids, oids.length << 1)
        pks = java.util.Arrays.copyOf(pks, pks.length << 1)
      }
      val seen = okIdx.getOrElse(ok, -1L)
      val o =
        if (seen < 0) { val d = okIdx.size; okIdx.put(ok, d); d }
        else seen.toInt
      oids(nRows) = o; pks(nRows) = pk
      if (pk > maxPk) maxPk = pk
      if (pk < minPk) minPk = pk
      nRows += 1
    }
    if (maxPk >= (1L << 32) || minPk < 0L) return null
    val nOrders = okIdx.size
    // pass 2: counting-sort rows by order
    val cnt = new Array[Int](nOrders)
    var i = 0
    while (i < nRows) { cnt(oids(i)) += 1; i += 1 }
    var fan = 0L
    i = 0
    while (i < nOrders) {
      val c = cnt(i).toLong; fan += c * (c - 1) / 2; i += 1
    }
    if (fan > cap) return null
    val off = new Array[Int](nOrders + 1)
    i = 0
    while (i < nOrders) { off(i + 1) = off(i) + cnt(i); i += 1 }
    val flat = new Array[Long](nRows)
    val cur = java.util.Arrays.copyOf(off, nOrders)
    i = 0
    while (i < nRows) {
      flat(cur(oids(i))) = pks(i); cur(oids(i)) += 1; i += 1
    }
    // pass 3: per-order sort + dedupe, pair count fold on packed keys
    val pairMap = new LongLongMap(
      math.min(fan, 1L << 24).toInt.max(16))
    i = 0
    while (i < nOrders) {
      val a = off(i); val b = off(i + 1)
      java.util.Arrays.sort(flat, a, b)
      var u = a; var x = a
      while (x < b) {
        if (u == a || flat(x) != flat(u - 1)) { flat(u) = flat(x); u += 1 }
        x += 1
      }
      var p = a
      while (p < u) {
        var q = p + 1
        while (q < u) {
          pairMap.addTo((flat(p) << 32) | flat(q), 1L); q += 1
        }
        p += 1
      }
      i += 1
    }
    // survivors >= minOrders, sorted by (u, v): the packed key's
    // UNSIGNED order is (u, v) lex order (u may reach 2³¹..2³²), so
    // flip the sign bit around the sort
    var m = 0
    pairMap.foreachEntry((_, w) => if (w >= minOrders) m += 1)
    val keys = new Array[Long](m)
    var k = 0
    pairMap.foreachEntry { (key, w) =>
      if (w >= minOrders) { keys(k) = key ^ Long.MinValue; k += 1 }
    }
    java.util.Arrays.sort(keys)
    val out = new Array[Long](2 * m)
    val ws = new Array[Long](m)
    i = 0
    while (i < m) {
      val key = keys(i) ^ Long.MinValue
      out(2 * i) = key >>> 32
      out(2 * i + 1) = key & 0xffffffffL
      ws(i) = pairMap.getOrElse(key, 0L)
      i += 1
    }
    new PairFold(out, ws)
  }

  /** The (ok, pk) feed every in-task derivation shares: project, drop
    * null rows (the rows the distributed self-join's `a.ok === b.ok &&
    * a.pk < b.pk` predicate drops — filtering them is the identical
    * semantics, and keeps the tuple encoder on the fast primitive
    * path), single task.
    */
  private def okPkFeed(s: SparkSession, li: DataFrame)
      : org.apache.spark.sql.Dataset[(Long, Long)] = {
    import s.implicits._
    li.select(col("ok").cast("long"), col("pk").cast("long"))
      .filter(col("ok").isNotNull && col("pk").isNotNull)
      .as[(Long, Long)]
      .coalesce(1)
  }

  /** Shared harness for the all-in-one gate kernels: feed → guarded
    * fold → kernel, with `sentinel` emitted when the fold overflows.
    * Returns None on overflow (checked via `isSentinel` on the first
    * materialized row of the one-partition output) so the gate falls
    * back to its distributed arm; the wasted work is capped by the
    * fold bounds.
    *
    * Lifetime (ADVICE r13): the localCheckpoint IS the returned
    * frame's storage — consumers (the bench's count, Verify's dump)
    * read it after this function returns, so it is never unpersisted
    * here. Blocks are gate-result-sized (a top-k / per-node summary,
    * not the corpus) and session-scoped; a long-lived session re-runs
    * gates against fresh frames and relies on Spark's LRU block
    * eviction for the old ones, which is the standard contract for
    * small result caches.
    */
  private def foldedKernel[T: org.apache.spark.sql.Encoder](
      s: SparkSession, li: DataFrame, minOrders: Long, sentinel: T,
      isSentinel: org.apache.spark.sql.Row => Boolean)(
      kernel: PairFold => Iterator[T]): Option[DataFrame] = {
    val cap = maxEdges(s)
    val out = okPkFeed(s, li)
      .mapPartitions { it =>
        val f = foldPairs(it, minOrders, cap)
        if (f == null) Iterator.single(sentinel) else kernel(f)
      }
      .toDF()
      .localCheckpoint()
    val head = out.limit(1).collect()
    if (head.nonEmpty && isSentinel(head(0))) None else Some(out)
  }

  /** In-task derivation of the thresholded co-purchase edge list —
    * `(u, v, w = distinct co-orders)` with u < v, w ≥ minOrders,
    * sorted by (u, v) — or `None` when a fold bound tripped (the
    * caller then derives distributedly). The overflow signal is a
    * single all-null SENTINEL row; a real derivation never produces
    * null columns.
    */
  def coPurchaseEdgesLocal(s: SparkSession, li: DataFrame,
      minOrders: Long): Option[DataFrame] = {
    import s.implicits._
    foldedKernel[(Option[Long], Option[Long], Option[Long])](
      s, li, minOrders, (None, None, None), r => r.isNullAt(0)) { f =>
      Iterator.tabulate(f.m) { i =>
        (Some(f.flat(2 * i)), Some(f.flat(2 * i + 1)), Some(f.ws(i)))
      }
    }.map(_.toDF("u", "v", "w"))
  }

  // ---------------------------------------------------------------
  // Dense-graph scaffolding (kernel side).
  // ---------------------------------------------------------------

  /** Dense-id CSR over a BIDIRECTED stride-2 long edge list, built
    * inside the task: original ids remap to [0, n), adjacency is one
    * offset + one neighbor array. Shared by the LPA/BFS/relax/HITS
    * kernels. Original ids are arbitrary longs here — only the
    * all-in-one co-purchase kernels assume the 2³² packing, and they
    * guard it in the fold.
    */
  private final class Csr(flat: Array[Long]) { // stride-2 (u, v) pairs
    private val idx = new LongLongMap(1 << 12)
    val orig = new scala.collection.mutable.ArrayBuffer[Long]()
    private def id(x: Long): Int = {
      val got = idx.getOrElse(x, -1L)
      if (got < 0) { val d = orig.length; idx.put(x, d); orig += x; d }
      else got.toInt
    }
    val m: Int = flat.length / 2
    val eu = new Array[Int](m); val ev = new Array[Int](m)
    locally {
      var i = 0
      while (i < m) {
        eu(i) = id(flat(2 * i)); ev(i) = id(flat(2 * i + 1)); i += 1
      }
    }
    val n: Int = orig.length
    // undirected: each input edge lands in both endpoint lists
    val off = new Array[Int](n + 1)
    val adj = new Array[Int](2 * m)
    locally {
      val deg = new Array[Int](n)
      var i = 0
      while (i < m) { deg(eu(i)) += 1; deg(ev(i)) += 1; i += 1 }
      i = 0
      while (i < n) { off(i + 1) = off(i) + deg(i); i += 1 }
      val cur = java.util.Arrays.copyOf(off, n)
      i = 0
      while (i < m) {
        adj(cur(eu(i))) = ev(i); cur(eu(i)) += 1
        adj(cur(ev(i))) = eu(i); cur(ev(i)) += 1
        i += 1
      }
    }
  }

  // ---------------------------------------------------------------
  // Kernels over an ARBITRARY pre-derived edge frame — the arms the
  // factored Features loops (labelPropagation / bfsHistogram /
  // relaxDistances / q230's pagerank) switch into below the cap.
  // These keep the coalesce(1) tuple feed: their inputs are either
  // tiny (thresholded graphs) or already cached by the caller. (A
  // parallel per-partition pack + 1-partition exchange was measured
  // as the alternative — the shuffle round-trip of the packed bytes
  // cost what the parallel deserialization saved, a wash at gate
  // scale and strictly worse below it, so the exchange-free form
  // stays.)
  // ---------------------------------------------------------------

  private def packed2[T: org.apache.spark.sql.Encoder](s: SparkSession,
      e: DataFrame)(kernel: Array[Long] => Iterator[T])
      : org.apache.spark.sql.Dataset[T] = {
    import s.implicits._
    e.select(col("u").cast("long"), col("v").cast("long"))
      .as[(Long, Long)]
      .coalesce(1)
      .mapPartitions { it =>
        val buf = new scala.collection.mutable.ArrayBuffer[Long]()
        it.foreach { case (u, v) => buf += u; buf += v }
        kernel(buf.toArray)
      }
  }

  private def packed3[T: org.apache.spark.sql.Encoder](s: SparkSession,
      e: DataFrame)(kernel: (Array[Long], Array[Long]) => Iterator[T])
      : org.apache.spark.sql.Dataset[T] = {
    import s.implicits._
    e.select(col("u").cast("long"), col("v").cast("long"),
        col("w").cast("long"))
      .as[(Long, Long, Long)]
      .coalesce(1)
      .mapPartitions { it =>
        val ps = new scala.collection.mutable.ArrayBuffer[Long]()
        val ws = new scala.collection.mutable.ArrayBuffer[Long]()
        it.foreach { case (u, v, w) => ps += u; ps += v; ws += w }
        kernel(ps.toArray, ws.toArray)
      }
  }

  /** Synchronous label propagation, the [[Features.labelPropagation]]
    * recurrence: labels seed as node ids; each round every node adopts
    * the most frequent neighbor label, ties to the SMALLEST label (the
    * distributed arm's `min(struct(-cnt, label))` argmin —
    * integer-exact, so the arms agree round for round). Returns
    * (node, community) for every node, sorted by node.
    */
  private def lpaKernel(flat: Array[Long],
      rounds: Int): Iterator[(Long, Long)] = {
    val g = new Csr(flat)
    var labels = g.orig.toArray
    var r = 0
    while (r < rounds) {
      val next = new Array[Long](g.n)
      val votes = new java.util.HashMap[java.lang.Long, java.lang.Integer]()
      var v = 0
      while (v < g.n) {
        votes.clear()
        var j = g.off(v)
        var bestLabel = Long.MaxValue; var bestCnt = 0
        while (j < g.off(v + 1)) {
          val l = labels(g.adj(j))
          val c = votes.merge(l, 1, (a, b) => a + b).intValue()
          if (c > bestCnt || (c == bestCnt && l < bestLabel)) {
            bestCnt = c; bestLabel = l
          }
          j += 1
        }
        // every node has ≥1 neighbor (edge-derived), so bestCnt ≥ 1
        next(v) = bestLabel
        v += 1
      }
      labels = next
      r += 1
    }
    val out = new Array[(Long, Long)](g.n)
    var v = 0
    while (v < g.n) { out(v) = (g.orig(v), labels(v)); v += 1 }
    out.sortBy(_._1).iterator
  }

  def lpa(s: SparkSession, edges: DataFrame, rounds: Int): DataFrame = {
    import s.implicits._
    packed2(s, edges)(flat => lpaKernel(flat, rounds))
      .toDF("node", "community")
  }

  /** k-round frontier BFS + per-distance histogram — the
    * [[Features.bfsHistogram]] recurrence. Seeds are chosen by `seed`
    * on the ORIGINAL node id. Returns (dist, n, min_node, max_node)
    * sorted by dist, unreachable = -1.
    */
  private def bfsKernel(flat: Array[Long], seed: Long => Boolean,
      rounds: Int): Iterator[(Long, Long, Long, Long)] = {
    val g = new Csr(flat)
    val dist = Array.fill(g.n)(-1L)
    var frontier = new scala.collection.mutable.ArrayBuffer[Int]()
    var v = 0
    while (v < g.n) {
      if (seed(g.orig(v))) { dist(v) = 0L; frontier += v }
      v += 1
    }
    var r = 1
    while (r <= rounds && frontier.nonEmpty) {
      val next = new scala.collection.mutable.ArrayBuffer[Int]()
      frontier.foreach { u =>
        var j = g.off(u)
        while (j < g.off(u + 1)) {
          val w = g.adj(j)
          if (dist(w) < 0) { dist(w) = r.toLong; next += w }
          j += 1
        }
      }
      frontier = next
      r += 1
    }
    // histogram with min/max ORIGINAL-id witnesses per distance
    val agg = new java.util.HashMap[Long, Array[Long]]()
    v = 0
    while (v < g.n) {
      val d = dist(v); val o = g.orig(v)
      val a = agg.computeIfAbsent(d, _ => Array(0L, Long.MaxValue, Long.MinValue))
      a(0) += 1; if (o < a(1)) a(1) = o; if (o > a(2)) a(2) = o
      v += 1
    }
    import scala.jdk.CollectionConverters._
    agg.asScala.iterator
      .map { case (d, a) => (d, a(0), a(1), a(2)) }
      .toArray.sortBy(_._1).iterator
  }

  def bfs(s: SparkSession, edges: DataFrame, seed: Long => Boolean,
      rounds: Int): DataFrame = {
    import s.implicits._
    packed2(s, edges)(flat => bfsKernel(flat, seed, rounds))
      .toDF("dist", "n", "min_node", "max_node")
  }

  /** The double-buffered synchronous k-round Bellman-Ford shared by
    * [[sssp]] and [[ssspCoPurchase]]: identical integer op sequence to
    * the distributed loop, so every arm agrees bit-for-bit.
    */
  private def relaxKernel(flat: Array[Long], ws: Array[Long],
      seed: Long => Boolean, rounds: Int): Iterator[(Long, Long)] = {
    val g = new Csr(flat) // ids + adjacency offsets (unweighted)
    val m = ws.length
    val INF = Long.MaxValue
    var dist = Array.fill(g.n)(INF)
    var v = 0
    while (v < g.n) { if (seed(g.orig(v))) dist(v) = 0L; v += 1 }
    var r = 0
    while (r < rounds) {
      val next = dist.clone()
      var i = 0
      while (i < m) {
        val a = g.eu(i); val b = g.ev(i); val w = ws(i)
        if (dist(a) != INF && dist(a) + w < next(b)) next(b) = dist(a) + w
        if (dist(b) != INF && dist(b) + w < next(a)) next(a) = dist(b) + w
        i += 1
      }
      dist = next
      r += 1
    }
    val out = new scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    v = 0
    while (v < g.n) { if (dist(v) != INF) out += ((g.orig(v), dist(v))); v += 1 }
    out.sortBy(_._1).iterator
  }

  def sssp(s: SparkSession, wEdges: DataFrame, seed: Long => Boolean,
      rounds: Int): DataFrame = {
    import s.implicits._
    packed3(s, wEdges)((ps, ws) => relaxKernel(ps, ws, seed, rounds))
      .toDF("node", "dist_cents")
  }

  /** q220's local arm ALL THE WAY from the raw line items: the wEdges
    * derivation — per-order row pairs with a.pk < b.pk, min combined
    * cents per (u, v) — AND the k-round relaxation run inside ONE
    * task, replacing the self-join + groupBy + probe + kernel chain
    * (4 jobs, 2 corpus-scale exchanges) that dominated the gate. The
    * derived weight map is EXACTLY the distributed `groupBy(u,
    * v).agg(min(a.cents + b.cents))`: same pairs, same min fold, and
    * the relaxation is [[relaxKernel]]. GraphSpec pins this arm
    * against the distributed derivation on the real gate.
    *
    * The guards ride INSIDE the fold (sentinel protocol, like
    * [[foldedKernel]]): row count ≤ 2·cap, raw pair fan ≤ cap, pk ∈
    * [0, 2³²), and ANY null column — a pair whose only occurrences
    * carry null cents still contributes its endpoints to the
    * distributed node set, so nulls must take the distributed arm.
    * The separate one-job eligibility probe this replaces cost a
    * measured 0.6 s of the gate (a full groupBy of the projection)
    * before the kernel did the identical bucketing again.
    */
  def ssspCoPurchase(s: SparkSession, li: DataFrame,
      seed: Long => Boolean, rounds: Int): Option[DataFrame] = {
    import s.implicits._
    val cap = maxEdges(s)
    // primitive tuple + null FLAG, not Option columns: the Option
    // encoder allocates three boxes per row and measured ~0.5 s on the
    // 600k-row feed; the flag is codegen on the scan side
    val out = li.select(
        (col("ok").isNull || col("pk").isNull ||
          col("cents").isNull).as("bad"),
        coalesce(col("ok").cast("long"), lit(0L)),
        coalesce(col("pk").cast("long"), lit(0L)),
        coalesce(col("cents").cast("long"), lit(0L)))
      .as[(Boolean, Long, Long, Long)]
      .coalesce(1)
      .mapPartitions { it =>
        val f = foldPairsWeighted(it, cap)
        if (f == null)
          Iterator.single((Option.empty[Long], Option.empty[Long]))
        else relaxKernel(f.flat, f.ws, seed, rounds)
          .map { case (n, d) => (Option(n), Option(d)) }
      }
      .toDF("node", "dist_cents")
      .localCheckpoint()
    val head = out.limit(1).collect()
    if (head.nonEmpty && head(0).isNullAt(0)) None else Some(out)
  }

  /** The weighted sibling of [[foldPairs]]: dedupe-free per-order pair
    * fold keeping the MIN combined cents per packed (u, v) — exactly
    * the distributed `self-join(a.ok = b.ok, a.pk < b.pk) → groupBy(u,
    * v).agg(min(a.cents + b.cents))`. Bounds checked AS the fold runs
    * (rows > 2·cap, raw pair fan > cap, pk outside [0, 2³²), or ANY
    * null column → null, caller emits the sentinel).
    */
  private def foldPairsWeighted(
      it: Iterator[(Boolean, Long, Long, Long)],
      cap: Long): PairFold = {
    val rowCap = 2L * cap
    // bucket rows by dense order id (growable parallel arrays)
    val okIdx = new LongLongMap(1 << 14)
    var oids = new Array[Int](1 << 14)
    var pks = new Array[Long](1 << 14)
    var cts = new Array[Long](1 << 14)
    var nRows = 0
    while (it.hasNext) {
      val (bad, ok, pk, cents) = it.next()
      if (bad) return null
      if (nRows >= rowCap) return null
      if (pk < 0L || pk >= (1L << 32)) return null
      if (nRows == oids.length) {
        oids = java.util.Arrays.copyOf(oids, oids.length << 1)
        pks = java.util.Arrays.copyOf(pks, pks.length << 1)
        cts = java.util.Arrays.copyOf(cts, cts.length << 1)
      }
      val seen = okIdx.getOrElse(ok, -1L)
      val o =
        if (seen < 0) { val d = okIdx.size; okIdx.put(ok, d); d }
        else seen.toInt
      oids(nRows) = o; pks(nRows) = pk; cts(nRows) = cents
      nRows += 1
    }
    val nOrders = okIdx.size
    val cnt = new Array[Int](nOrders)
    var i = 0
    while (i < nRows) { cnt(oids(i)) += 1; i += 1 }
    var fan = 0L
    i = 0
    while (i < nOrders) {
      val c = cnt(i).toLong; fan += c * (c - 1) / 2; i += 1
    }
    if (fan > cap) return null
    val off = new Array[Int](nOrders + 1)
    i = 0
    while (i < nOrders) { off(i + 1) = off(i) + cnt(i); i += 1 }
    val fpk = new Array[Long](nRows); val fct = new Array[Long](nRows)
    val cur = java.util.Arrays.copyOf(off, nOrders)
    i = 0
    while (i < nRows) {
      val o = oids(i); fpk(cur(o)) = pks(i); fct(cur(o)) = cts(i)
      cur(o) += 1; i += 1
    }
    // per-order pair fold: min combined cents per packed (u, v)
    val wmap = new LongLongMap(1 << 16)
    i = 0
    while (i < nOrders) {
      val a = off(i); val b = off(i + 1)
      var p = a
      while (p < b) {
        var q = p + 1
        while (q < b) {
          val pi = fpk(p); val pj = fpk(q)
          if (pi != pj) {
            val key =
              if (pi < pj) (pi << 32) | pj else (pj << 32) | pi
            wmap.minTo(key, fct(p) + fct(q))
          }
          q += 1
        }
        p += 1
      }
      i += 1
    }
    val m = wmap.size
    val flat = new Array[Long](2 * m)
    val ws = new Array[Long](m)
    var k = 0
    wmap.foreachEntry { (key, w) =>
      flat(2 * k) = key >>> 32; flat(2 * k + 1) = key & 0xffffffffL
      ws(k) = w; k += 1
    }
    new PairFold(flat, ws)
  }

  /** Fixed-point weighted PageRank — the [[Features]] q230 recurrence
    * in one task: per-src shares out of 10⁶ by floor division, rank
    * mass at 10¹², damping r·17 div 20, teleport scale·15 div (100·n),
    * [[Features.GraphRounds]] synchronous rounds — every step the
    * identical integer op sequence, so the arms (and the DuckDB
    * oracle's `//`) agree bit-for-bit. Input is the undirected
    * weighted edge list (u, v, w); returns the top 20 (part,
    * pr_scaled) by rank desc, node asc.
    */
  def pagerank(s: SparkSession, ew: DataFrame, rounds: Int): DataFrame = {
    import s.implicits._
    packed3(s, ew) { (flat, wsB) =>
        val mU = wsB.length
        val g = new Csr(flat)
        if (g.n == 0) Iterator.empty
        else {
          // directed both ways with the edge's weight; per-src weight sums
          val sumw = new Array[Long](g.n)
          var i = 0
          while (i < mU) {
            sumw(g.eu(i)) += wsB(i); sumw(g.ev(i)) += wsB(i); i += 1
          }
          // share(src→dst) = w·10⁶ div Σw(src), stored per directed edge
          val shareFwd = new Array[Long](mU) // eu → ev
          val shareRev = new Array[Long](mU) // ev → eu
          i = 0
          while (i < mU) {
            shareFwd(i) = wsB(i) * 1000000L / sumw(g.eu(i))
            shareRev(i) = wsB(i) * 1000000L / sumw(g.ev(i))
            i += 1
          }
          val scale = 1000000000000L
          val n = g.n.toLong
          val teleport = scale * 15L / (100L * n)
          var r = Array.fill(g.n)(scale / n)
          var round = 0
          while (round < rounds) {
            val inflow = new Array[Long](g.n)
            i = 0
            while (i < mU) {
              inflow(g.ev(i)) += (r(g.eu(i)) * 17L / 20L) * shareFwd(i) / 1000000L
              inflow(g.eu(i)) += (r(g.ev(i)) * 17L / 20L) * shareRev(i) / 1000000L
              i += 1
            }
            var v = 0
            while (v < g.n) { inflow(v) += teleport; v += 1 }
            r = inflow
            round += 1
          }
          val all = new Array[(Long, Long)](g.n)
          var v = 0
          while (v < g.n) { all(v) = (g.orig(v), r(v)); v += 1 }
          all.sortBy { case (node, rank) => (-rank, node) }
            .iterator.take(20)
        }
      }
      .toDF("part", "pr_scaled")
  }

  // ---------------------------------------------------------------
  // All-in-one gate kernels (derive + compute in a single task).
  // ---------------------------------------------------------------

  /** Orientation + wedge scaffold shared by the q154/q259 kernels:
    * degrees, out-adjacency sorted by the wedge tie-break key
    * (deg(dst), dst-original-id), and the packed closing-edge set.
    * `foreachClosedWedge` enumerates exactly the distributed wedge
    * join's closed (src; b, c) rows. Returns null when Σ C(out-deg, 2)
    * exceeds `wedgeCap`. Original ids are fold-guaranteed < 2³², so
    * both the closing keys and the (deg, orig) sort keys pack into
    * non-negative longs.
    */
  private[ops] final class TriangleScaffold(
      val nNodes: Int, val deg: Array[Int],
      val outOff: Array[Int], val outKey: Array[Long],
      val closing: LongSet, val denseIdx: LongLongMap) {
    /** f(srcDense, bDense, cDense) per CLOSED wedge. */
    def foreachClosedWedge(f: (Int, Int, Int) => Unit): Unit = {
      var v = 0
      while (v < nNodes) {
        val a = outOff(v); val b = outOff(v + 1)
        var i = a
        while (i < b) {
          val bOrig = outKey(i) & 0xffffffffL
          var j = i + 1
          while (j < b) {
            val cOrig = outKey(j) & 0xffffffffL
            if (closing.contains((bOrig << 32) | cOrig))
              f(v, denseIdx.getOrElse(bOrig, -1L).toInt,
                denseIdx.getOrElse(cOrig, -1L).toInt)
            j += 1
          }
          i += 1
        }
        v += 1
      }
    }
  }

  private def triangleScaffold(flat: Array[Long],
      wedgeCap: Long): TriangleScaffold = {
    val m = flat.length / 2
    val idx = new LongLongMap(1 << 12)
    val orig = new scala.collection.mutable.ArrayBuffer[Long]()
    def id(x: Long): Int = {
      val got = idx.getOrElse(x, -1L)
      if (got < 0) { val d = orig.length; idx.put(x, d); orig += x; d }
      else got.toInt
    }
    val eu = new Array[Int](m); val ev = new Array[Int](m)
    var i = 0
    while (i < m) {
      eu(i) = id(flat(2 * i)); ev(i) = id(flat(2 * i + 1)); i += 1
    }
    val n = orig.length
    val deg = new Array[Int](n)
    i = 0
    while (i < m) { deg(eu(i)) += 1; deg(ev(i)) += 1; i += 1 }
    // orient: src = lower (degree, original id); count out-degrees
    val outDeg = new Array[Int](n)
    val srcArr = new Array[Int](m); val dstArr = new Array[Int](m)
    val closing = new LongSet(m)
    i = 0
    while (i < m) {
      val u = eu(i); val v = ev(i)
      val lt = deg(u) < deg(v) ||
        (deg(u) == deg(v) && orig(u) < orig(v))
      val sN = if (lt) u else v
      val dN = if (lt) v else u
      srcArr(i) = sN; dstArr(i) = dN
      outDeg(sN) += 1
      closing.add((orig(sN) << 32) | orig(dN))
      i += 1
    }
    var wedges = 0L
    i = 0
    while (i < n) {
      val d = outDeg(i).toLong; wedges += d * (d - 1) / 2; i += 1
    }
    if (wedges > wedgeCap) return null
    val outOff = new Array[Int](n + 1)
    i = 0
    while (i < n) { outOff(i + 1) = outOff(i) + outDeg(i); i += 1 }
    // wedge tie-break key (deg(dst), dst original id): deg < 2³¹ and
    // orig < 2³² pack into one non-negative long, so a plain sort of
    // each out segment is the lex order the distributed join states
    val outKey = new Array[Long](m)
    val cur = java.util.Arrays.copyOf(outOff, n)
    i = 0
    while (i < m) {
      val s = srcArr(i); val d = dstArr(i)
      outKey(cur(s)) = (deg(d).toLong << 32) | orig(d)
      cur(s) += 1
      i += 1
    }
    i = 0
    while (i < n) {
      java.util.Arrays.sort(outKey, outOff(i), outOff(i + 1)); i += 1
    }
    new TriangleScaffold(n, deg, outOff, outKey, closing, idx)
  }

  /** q154's local arm: distinct co-purchase edges, degree-ordered
    * orientation, oriented wedge enumeration probing the packed
    * closing-edge set — the exact distributed pipeline (same
    * orientation and wedge tie-breaks on (degree, original id)) in one
    * task. The wedge loop materializes nothing; its fan Σ C(out-deg,2)
    * is bounded by [[DefaultMaxWedges]] (overflow → None → distributed
    * arm). Output: one (n_nodes, n_edges, n_triangles) row.
    */
  def trianglesCoPurchase(s: SparkSession, li: DataFrame)
      : Option[DataFrame] = {
    import s.implicits._
    foldedKernel[(Long, Long, Long)](s, li, 1L, (-1L, -1L, -1L),
      r => r.getLong(0) == -1L) { f =>
      val t = triangleScaffold(f.flat, DefaultMaxWedges)
      if (t == null) Iterator.single((-1L, -1L, -1L))
      else {
        var tri = 0L
        t.foreachClosedWedge((_, _, _) => tri += 1)
        Iterator.single((t.nNodes.toLong, f.m.toLong, tri))
      }
    }.map(_.toDF("n_nodes", "n_edges", "n_triangles"))
  }

  /** q259's local arm: the q154 scaffold plus per-node triangle
    * credits and the exact cc arithmetic of the distributed arm —
    * per-node cc = round(2·tri / (deg·(deg−1)), 6) quantized to 6-dp
    * micros (the DECIMAL(18,6) cast) and summed exactly; avg/global cc
    * are the same one-division-then-round doubles. Output: one
    * (n_nodes, n_triangles, avg_cc, global_cc) row (nulls when the
    * deg≥2 node set is empty, as distributed).
    */
  def clusteringCoPurchase(s: SparkSession, li: DataFrame)
      : Option[DataFrame] = {
    import s.implicits._
    foldedKernel[(Long, Option[Long], Option[Double], Option[Double])](
      s, li, 1L, (-1L, None, None, None),
      r => r.getLong(0) == -1L) { f =>
      val t = triangleScaffold(f.flat, DefaultMaxWedges)
      if (t == null) Iterator.single((-1L, None, None, None))
      else {
        val tri = new Array[Long](t.nNodes)
        t.foreachClosedWedge { (a, b, c) =>
          tri(a) += 1; tri(b) += 1; tri(c) += 1
        }
        var nN = 0L; var nWedges = 0L; var tri3 = 0L; var ccMicros = 0L
        var v = 0
        while (v < t.nNodes) {
          val d = t.deg(v).toLong
          if (d >= 2) {
            nN += 1
            // the distributed (deg·(deg−1)) / 2 is a DOUBLE division
            // cast to long — exact (the product is even and below 2⁵³
            // under the edge cap), so integer halving matches
            nWedges += d * (d - 1) / 2
            tri3 += tri(v)
            val cc = round6(tri(v).toDouble * 2.0 / (d * (d - 1)).toDouble)
            // cast to DECIMAL(18,6): round6's double is the 6-dp
            // decimal's nearest double, whose shortest repr IS that
            // decimal — movePointRight(6) is exact micros
            ccMicros += java.math.BigDecimal.valueOf(cc)
              .movePointRight(6).longValueExact()
          }
          v += 1
        }
        if (nN == 0L) Iterator.single((0L, None, None, None))
        else {
          val ccSum = java.math.BigDecimal.valueOf(ccMicros, 6).doubleValue()
          val avg = round6(ccSum / nN.toDouble)
          val global = round6(tri3.toDouble / nWedges.toDouble)
          Iterator.single((nN, Some(tri3 / 3), Some(avg), Some(global)))
        }
      }
    }.map(_.toDF("n_nodes", "n_triangles", "avg_cc", "global_cc"))
  }

  /** q218's local arm: the H1-1995 co-purchase graph's Adamic-Adar
    * top 20 in one task — distinct edges, per-node 1/ln(deg) weights
    * rounded to 6 dp and quantized to micros (the DECIMAL(12,6)
    * cast), per-common-neighbor candidate fold, existing edges
    * anti-filtered, a 20-slot selection by (aas desc, u, v) and the
    * final re-sort by the DOUBLE score exactly as the distributed
    * plan's two orderings state. The candidate fan Σ C(deg, 2) is
    * bounded by the edge cap — it is also the candidate MAP's size
    * (memory) bound.
    */
  def adamicAdarCoPurchase(s: SparkSession, li: DataFrame)
      : Option[DataFrame] = {
    import s.implicits._
    val cap = maxEdges(s)
    foldedKernel[(Long, Long, Long, Double)](s, li, 1L,
      (-1L, -1L, -1L, 0.0), r => r.getLong(2) == -1L) { f =>
      val g = new Csr(f.flat)
      // candidate fan bound BEFORE the fold (memory = fan entries)
      var fan = 0L
      var v = 0
      while (v < g.n) {
        val d = (g.off(v + 1) - g.off(v)).toLong
        fan += d * (d - 1) / 2
        v += 1
      }
      if (fan > cap) Iterator.single((-1L, -1L, -1L, 0.0))
      else {
        // per-node weight micros = round(1/ln(deg), 6) · 10⁶, deg ≥ 2
        val wz = new Array[Long](g.n)
        v = 0
        while (v < g.n) {
          val d = g.off(v + 1) - g.off(v)
          if (d >= 2)
            wz(v) = java.math.BigDecimal
              .valueOf(round6(1.0 / math.log(d.toDouble)))
              .movePointRight(6).longValueExact()
          v += 1
        }
        // sort each adjacency segment by ORIGINAL neighbor id so the
        // candidate (u, v) pairs come out u < v, as the distributed
        // a.nbr < b.nbr join states
        val nbrOrig = new Array[Long](g.adj.length)
        var x = 0
        while (x < g.adj.length) { nbrOrig(x) = g.orig(g.adj(x)); x += 1 }
        v = 0
        while (v < g.n) {
          java.util.Arrays.sort(nbrOrig, g.off(v), g.off(v + 1)); v += 1
        }
        val cnt = new LongLongMap(math.min(fan, 1L << 22).toInt.max(16))
        val aas = new LongLongMap(math.min(fan, 1L << 22).toInt.max(16))
        v = 0
        while (v < g.n) {
          val a = g.off(v); val b = g.off(v + 1)
          if (b - a >= 2) {
            val w = wz(v)
            var i = a
            while (i < b) {
              var j = i + 1
              while (j < b) {
                val key = (nbrOrig(i) << 32) | nbrOrig(j)
                cnt.addTo(key, 1L)
                aas.addTo(key, w)
                j += 1
              }
              i += 1
            }
          }
          v += 1
        }
        // existing edges never predict themselves (the anti join)
        val edgeSet = new LongSet(f.m)
        x = 0
        while (x < f.m) {
          edgeSet.add((f.flat(2 * x) << 32) | f.flat(2 * x + 1)); x += 1
        }
        // 20-slot selection by (aas desc, u asc, v asc): packed-key
        // UNSIGNED order is (u, v) lex order, so the floor comparator
        // is (aas asc, key unsigned desc)
        val topK = 20
        val selKey = new Array[Long](topK); val selAas = new Array[Long](topK)
        var nSel = 0
        def worseThan(a1: Long, k1: Long, a2: Long, k2: Long): Boolean =
          a1 < a2 || (a1 == a2 &&
            java.lang.Long.compareUnsigned(k1, k2) > 0)
        def demoteWorst(): Unit = {
          var w = topK - 1; var y = 0
          while (y < topK) {
            if (worseThan(selAas(y), selKey(y), selAas(w), selKey(w))) w = y
            y += 1
          }
          val tk = selKey(w); val ta = selAas(w)
          selKey(w) = selKey(topK - 1); selAas(w) = selAas(topK - 1)
          selKey(topK - 1) = tk; selAas(topK - 1) = ta
        }
        cnt.foreachEntry { (key, _) =>
          if (!edgeSet.contains(key)) {
            val a = aas.getOrElse(key, 0L)
            if (nSel < topK) {
              selKey(nSel) = key; selAas(nSel) = a; nSel += 1
              if (nSel == topK) demoteWorst()
            } else if (worseThan(selAas(topK - 1), selKey(topK - 1), a, key)) {
              selKey(topK - 1) = key; selAas(topK - 1) = a
              demoteWorst()
            }
          }
        }
        val sel = (0 until nSel)
          .map(i => (selKey(i), selAas(i)))
          .sortWith { case ((k1, a1), (k2, a2)) =>
            a1 > a2 || (a1 == a2 &&
              java.lang.Long.compareUnsigned(k1, k2) < 0)
          }
        // the gate re-sorts the 20 by the DOUBLE score (ties → u, v):
        // replay it so double-collapsed decimal ties order identically
        sel.map { case (key, a) =>
          (key >>> 32, key & 0xffffffffL,
            cnt.getOrElse(key, 0L),
            java.math.BigDecimal.valueOf(a, 6).doubleValue())
        }.sortWith { case ((u1, v1, _, d1), (u2, v2, _, d2)) =>
          d1 > d2 || (d1 == d2 && (u1 < u2 || (u1 == u2 && v1 < v2)))
        }.iterator
      }
    }.map(_.toDF("u", "v", "common_nbrs", "adamic_adar"))
  }

  /** q198's local arm from the raw line items: distinct co-purchase
    * edges AND the exact Batagelj–Zaveršnik bucket peel in one task.
    * Output: (coreness, n_nodes) histogram rows sorted by coreness.
    */
  def corenessCoPurchase(s: SparkSession, li: DataFrame)
      : Option[DataFrame] = {
    import s.implicits._
    foldedKernel[(Long, Long)](s, li, 1L, (-1L, -1L),
      r => r.getLong(1) == -1L) { f =>
      corenessKernel(f.flat)
    }.map(_.toDF("coreness", "n_nodes"))
  }

  /** Exact coreness histogram by Batagelj–Zaveršnik bucket peeling
    * over a stride-2 (u, v) edge list — shared by
    * [[corenessCoPurchase]] and Features' edge-frame arm. Emits
    * (coreness, n_nodes) sorted by coreness.
    */
  private[ops] def corenessKernel(flat: Array[Long])
      : Iterator[(Long, Long)] = {
    val g = new Csr(flat)
    val n = g.n; val m = g.m
    val deg = new Array[Int](n)
    var i = 0
    while (i < m) { deg(g.eu(i)) += 1; deg(g.ev(i)) += 1; i += 1 }
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
      var j = g.off(v)
      while (j < g.off(v + 1)) {
        val u = g.adj(j)
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
      .toArray.sortBy(_._1).iterator
  }

  /** q219's local arm: HITS over the bipartite customer→part purchase
    * rows in one task — dedupe (c, p), h1 = out-degree, a1/h2/a2 the
    * three exact integer sum sweeps, top-10 hubs by (h2 desc, c) and
    * authorities by (a2 desc, p), emitted in the gate's final
    * (kind asc, score_r2 desc, node asc) order ("authority" < "hub").
    * Guarded by the sentinel protocol like the co-purchase kernels:
    * null ids, ids outside [0, 2³²) or more than 2·cap rows emit the
    * sentinel and the gate falls back to its distributed arm. Returns
    * None on overflow.
    */
  def hitsBipartite(s: SparkSession, cp: DataFrame): Option[DataFrame] = {
    val cap = maxEdges(s)
    val enc: org.apache.spark.sql.Encoder[(String, Long, Long, Long)] =
      org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.STRING,
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.scalaLong)
    val boxed = org.apache.spark.sql.Encoders.tuple(
      org.apache.spark.sql.Encoders.LONG,
      org.apache.spark.sql.Encoders.LONG)
    val out = cp.select(col("c").cast("long").as("_1"),
        col("p").cast("long").as("_2"))
      .as(boxed)
      .coalesce(1)
      .mapPartitions { it =>
        val rowCap = 2L * cap
        val seen = new LongSet(1 << 16)
        val cIdx = new LongLongMap(1 << 14)
        val pIdx = new LongLongMap(1 << 14)
        val cOrig = new scala.collection.mutable.ArrayBuffer[Long]()
        val pOrig = new scala.collection.mutable.ArrayBuffer[Long]()
        var ec = new Array[Int](1 << 16)
        var ep = new Array[Int](1 << 16)
        var m = 0
        var nRows = 0L
        var bad = false
        while (it.hasNext && !bad) {
          val (cB, pB) = it.next()
          nRows += 1
          if (cB == null || pB == null || nRows > rowCap) bad = true
          else {
            val c = cB.longValue(); val p = pB.longValue()
            if (c < 0L || c >= (1L << 32) || p < 0L || p >= (1L << 32))
              bad = true
            else if (seen.add((c << 32) | p)) {
              if (m == ec.length) {
                ec = java.util.Arrays.copyOf(ec, ec.length << 1)
                ep = java.util.Arrays.copyOf(ep, ep.length << 1)
              }
              val ci = cIdx.getOrElse(c, -1L)
              val cd = if (ci < 0) {
                val d = cOrig.length; cIdx.put(c, d); cOrig += c; d
              } else ci.toInt
              val pi = pIdx.getOrElse(p, -1L)
              val pd = if (pi < 0) {
                val d = pOrig.length; pIdx.put(p, d); pOrig += p; d
              } else pi.toInt
              ec(m) = cd; ep(m) = pd; m += 1
            }
          }
        }
        if (bad) Iterator.single(("!", -1L, -1L, -1L))
        else {
          val nc = cOrig.length; val np = pOrig.length
          val h1 = new Array[Long](nc)
          var i = 0
          while (i < m) { h1(ec(i)) += 1; i += 1 }
          val a1 = new Array[Long](np)
          i = 0
          while (i < m) { a1(ep(i)) += h1(ec(i)); i += 1 }
          val h2 = new Array[Long](nc)
          i = 0
          while (i < m) { h2(ec(i)) += a1(ep(i)); i += 1 }
          val a2 = new Array[Long](np)
          i = 0
          while (i < m) { a2(ep(i)) += h2(ec(i)); i += 1 }
          def top10(n: Int,
              orig: scala.collection.mutable.ArrayBuffer[Long],
              s2: Array[Long]): Array[Int] = {
            val ids = Array.tabulate(n)(identity)
            ids.sortBy(i => (-s2(i), orig(i))).take(10)
          }
          val auths = top10(np, pOrig, a2).map { i =>
            ("authority", pOrig(i), a1(i), a2(i))
          }
          val hubs = top10(nc, cOrig, h2).map { i =>
            ("hub", cOrig(i), h1(i), h2(i))
          }
          // final gate order: kind asc ("authority" < "hub"),
          // score_r2 desc, node asc — exactly the per-kind selection
          (auths ++ hubs).iterator
        }
      }(enc)
      .toDF("kind", "node", "score_r1", "score_r2")
      .localCheckpoint()
    val head = out.limit(1).collect()
    if (head.nonEmpty && head(0).getLong(3) == -1L) None else Some(out)
  }
}
