// Copyright (c) 2026 graft contributors
// SPDX-License-Identifier: Apache-2.0

package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables._

/** Multimodal-column plumbing ([EXT] surface): media payloads travel as
  * opaque `binary` columns alongside a typed metadata struct, and
  * feature extraction runs as batched per-partition decoding — the
  * Scala analogue of a Pandas-UDF/`mapInPandas` stage, expressed with a
  * typed `Dataset.mapPartitions` so each task amortizes decoder setup
  * across its partition.
  *
  * The container has no image/audio codecs, so [[StubDecoder.decode]]
  * is a clearly-marked deterministic fake; everything around it —
  * schema (binary + struct), partitioning, batch iteration, output
  * shape — is the real pipeline and is what the tests and the driver
  * oracle exercise. Payloads are derived from testdata (`documents.text`
  * UTF-8 bytes) so the oracle can recompute every derived feature.
  */
object Multimodal extends graft.Gates {

  /** Lookup-table lowercase hex. The f"%02x"-per-byte spelling this
    * replaces was the measured per-row cost of the codec-seam gates
    * (q68 r11: ~84 µs/row — millions of String.format calls — against
    * a seam fixed cost of ~0.36 s); hex encoding sits inside every
    * payload digest, so it must be allocation-lean.
    */
  private[ops] def hexLower(bytes: Array[Byte]): String = {
    val digits = "0123456789abcdef"
    val out = new Array[Char](bytes.length * 2)
    var i = 0
    while (i < bytes.length) {
      val v = bytes(i) & 0xff
      out(2 * i) = digits.charAt(v >>> 4)
      out(2 * i + 1) = digits.charAt(v & 0xf)
      i += 1
    }
    new String(out)
  }

  final case class MediaRow(doc_id: Long, payload: Array[Byte],
      mime: String, n_bytes: Long)
  final case class MediaFeatures(doc_id: Long, n_bytes: Long,
      header_hex: String, width: Long, height: Long, frames: Long)

  /** STUB: deterministic stand-in for a real codec (image decode /
    * audio resample / video frame-sample). A production deployment
    * swaps only this function; the Spark plumbing stays identical.
    */
  object StubDecoder {
    def decode(payload: Array[Byte]): (String, Long, Long, Long) = {
      val header = hexLower(payload.take(4))
      val n = payload.length.toLong
      (header, n % 640, (n * 31) % 480, 1 + n % 8)
    }
  }

  /** Build the media table: binary payload + metadata struct. */
  def mediaTable(s: SparkSession, dir: String): Dataset[MediaRow] = {
    import s.implicits._
    documents(s, dir)
      // a missing payload has nothing to decode/resize/sample — the
      // media pipeline skips it (typed MediaRow carries non-null bytes)
      .filter(col("text").isNotNull)
      .select(col("doc_id"),
        encode(col("text"), "UTF-8").as("payload"),
        lit("text/plain").as("mime"),
        octet_length(encode(col("text"), "UTF-8")).cast("long").as("n_bytes"))
      .as[MediaRow]
  }

  /** Batched per-partition feature extraction over the binary column. */
  def extractMediaFeatures(media: Dataset[MediaRow]): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      // per-partition decoder setup would happen here (one codec
      // instance per task, reused across the batch)
      rows.map { r =>
        val (header, w, h, frames) = StubDecoder.decode(r.payload)
        MediaFeatures(r.doc_id, r.n_bytes, header, w, h, frames)
      }
    }
  }

  def q47MediaFeatures(s: SparkSession, dir: String): DataFrame =
    extractMediaFeatures(mediaTable(s, dir)).toDF().orderBy("doc_id")

  val q47Oracle: String =
    """SELECT doc_id,
      | CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
      | lower(substr(hex(encode(text)), 1, 8)) AS header_hex,
      | CAST(octet_length(encode(text)) % 640 AS BIGINT) AS width,
      | CAST((octet_length(encode(text)) * 31) % 480 AS BIGINT) AS height,
      | CAST(1 + octet_length(encode(text)) % 8 AS BIGINT) AS frames
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  // ---- resize (1→1 payload transform through the codec seam) --------

  final case class ResizedMedia(doc_id: Long, n_bytes: Long,
      resized_bytes: Long, resized_md5: String)

  /** STUB resize: deterministic byte-halving standing in for a real
    * image downscale. Swapping in a real codec changes only this
    * function; the batched per-partition pipeline is unchanged.
    */
  object StubResizer {
    def resize(payload: Array[Byte]): Array[Byte] =
      payload.take(math.ceil(payload.length / 2.0).toInt)
  }

  /** Payload-transforming stage: binary in, smaller binary out, with
    * the derived metadata recomputed — the downscale/re-encode shape.
    * The digest of the resized payload's lowercase hex is the oracle's
    * checkable witness that the BYTES (not just the lengths) match
    * cross-engine (this DuckDB's md5 is VARCHAR-only, so the digest
    * runs over the hex string on both sides).
    */
  def resizeMedia(media: Dataset[MediaRow]): Dataset[ResizedMedia] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      val md = java.security.MessageDigest.getInstance("MD5")
      rows.map { r =>
        val out = StubResizer.resize(r.payload)
        val hex = hexLower(out)
        md.reset()
        ResizedMedia(r.doc_id, r.n_bytes, out.length.toLong,
          hexLower(md.digest(hex.getBytes("UTF-8"))))
      }
    }
  }

  def q68MediaResize(s: SparkSession, dir: String): DataFrame =
    resizeMedia(mediaTable(s, dir)).toDF().orderBy("doc_id")

  val q68Oracle: String =
    """SELECT doc_id,
      | CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
      | CAST(ceil(octet_length(encode(text)) / 2.0) AS BIGINT) AS resized_bytes,
      | md5(lower(substr(hex(encode(text)), 1,
      |   2 * CAST(ceil(octet_length(encode(text)) / 2.0) AS BIGINT))))
      |   AS resized_md5
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  // ---- frame sampling (1→N explosion through the codec seam) --------

  final case class SampledFrame(doc_id: Long, frame_idx: Long,
      frame_sig: String)

  /** Frame sampling: each payload yields its even-indexed frames (per
    * the stub decoder's frame count) — the 1→N batch shape of video
    * frame extraction, emitted from one mapPartitions pass so a real
    * demuxer would open each container once per task. Frame signature
    * = md5 over the payload header + frame index (stub for a decoded
    * frame hash).
    */
  def sampleFrames(media: Dataset[MediaRow]): Dataset[SampledFrame] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.flatMap { r =>
        val (header, _, _, frames) = StubDecoder.decode(r.payload)
        (0L until frames by 2).map { i =>
          val sig = hexLower(java.security.MessageDigest.getInstance("MD5")
            .digest(s"$header#$i".getBytes("UTF-8")))
          SampledFrame(r.doc_id, i, sig)
        }
      }
    }
  }

  def q69FrameSample(s: SparkSession, dir: String): DataFrame =
    sampleFrames(mediaTable(s, dir)).toDF().orderBy("doc_id", "frame_idx")

  val q69Oracle: String =
    """WITH m AS (SELECT doc_id,
      |  lower(substr(hex(encode(text)), 1, 8)) AS header,
      |  1 + octet_length(encode(text)) % 8 AS frames
      | FROM documents)
      |SELECT doc_id,
      | CAST(unnest(generate_series(0, frames - 1, 2)) AS BIGINT) AS frame_idx,
      | md5(header || '#' || unnest(generate_series(0, frames - 1, 2)))
      |   AS frame_sig
      |FROM m
      |ORDER BY doc_id, frame_idx""".stripMargin

  /** Perceptual-hash media near-dup (q276) — the image-dedup shape
    * every multimodal corpus needs (exact byte hashing misses
    * re-encodes; embedding dedup needs a model): a 64-bit
    * dHash-family fingerprint per payload (bit i compares two sampled
    * bytes — on a REAL pipeline the sampler runs over the decoded,
    * resized raster; here it runs over the stubbed byte "raster", so
    * it is shift-sensitive, which exact byte dups still collapse
    * through), then the q67 SimHash discipline: band bucketing at the
    * RULE-CHOSEN width ([[phashWidthBits]]: 16-bit/4 bands while the
    * print count fits 2^14, 32-bit/2 bands above — the same rule in
    * both engines, so the gate exercises whichever regime the corpus
    * lands in; pigeonhole: B−1 differing bits leave one band intact),
    * candidates meet on a band equi join — never payload×payload —
    * and the EXACT Hamming distance is verified per candidate.
    * Output is the Hamming-distance histogram over candidates
    * (near-dups land in bucket 0), so the gate is informative at
    * every SF. Bytes compare as fixed-width hex pairs — lexicographic
    * on uppercase hex == numeric on bytes — identical in both
    * engines; everything else is exact integers.
    */
  def q276MediaNearDup(s: SparkSession, dir: String): DataFrame = {
    val m = mediaTable(s, dir).toDF()
      .select(col("doc_id"), col("payload"),
        length(col("payload")).as("nb"))
      .filter(col("nb") >= 65) // need 65 distinct sample positions
    // the 64 bit-comparisons are UNROLLED into one concat of 64
    // codegen CASE expressions: the equivalent transform(sequence(1,
    // 64), …) lambda is interpreted per element per row (measured
    // r13: the lambda form was the gate's dominant 1.3 s job).
    // r14: the samples slice the BINARY payload directly — substr on
    // BinaryType is an O(1) byte slice and compares unsigned
    // bytewise, exactly like the uppercase-hex pairs it replaces,
    // while substr on the hex STRING walked the UTF8String from
    // byte 0 for every of the 128 samples per row (O(payload) each)
    // and hex() materialized a 2× copy of every payload first
    val fp = m.select(col("doc_id"), expr(
      (1 to 64).map(i =>
        s"CASE WHEN substr(payload, CAST(1 + ((${i - 1} * (nb - 1)) " +
          s"DIV 64) AS INT), 1) > substr(payload, CAST(1 + (($i * " +
          s"(nb - 1)) DIV 64) AS INT), 1) THEN '1' ELSE '0' END")
        .mkString("concat(", ", ", ")")).as("f"))
    // collapse identical fingerprints FIRST (production runs exact
    // dedup before near-dup): a payload duplicated d times would
    // otherwise form d-sized band cliques — candidate pairs grow d²
    // while the information content doesn't. Groups carry their size,
    // so every underlying doc pair is still COUNTED (n1·n2 across
    // groups, C(n,2) within), just never enumerated.
    val groups = fp.groupBy("f").agg(count(lit(1)).as("n"))
      .localCheckpoint() // referenced by both join sides
    // band width by the SIZING RULE on the measured print count (the
    // count is metadata-cheap on the just-checkpointed frame); the
    // oracle applies the identical rule, so the gate exercises
    // whichever width the corpus actually lands in — 16-bit at gate
    // SFs, 32-bit on the 10× scale corpus
    mediaNearDupHistogram(groups, phashWidthBits(groups.count()))
  }

  /** Band width for an n-print corpus — the q67 SimHash sizing rule
    * applied to the 64-bit perceptual hash. Each of the B = 64/w
    * bands contributes ≈ C(n,2)/2^w ACCIDENTAL collisions between
    * random prints; keeping total candidates O(n) (linear in corpus,
    * never band-space-filling) needs 2^w ≳ n, i.e. w ≥ log₂ n + 2.
    * Snapped to the divisors of 64 that keep ≥ 2 bands: 16-bit while
    * n ≤ 2^14, else 32-bit. Wider bands trade pigeonhole radius
    * (B − 1 differing bits guaranteed caught) for occupancy — at 10⁸
    * prints the 32-bit/Hamming≤1 regime is the one that scales, and
    * radius>1 recall comes from multiple INDEPENDENT hash rotations,
    * not wider cliques.
    */
  private[graft] def phashWidthBits(nPrints: Long): Int =
    if (nPrints <= (1L << 14)) 16 else 32

  /** Hamming-distance histogram over banded candidates of a collapsed
    * fingerprint-group frame `groups` = (f: 64-char bitstring,
    * n: multiplicity), parametric in band width — factored so
    * MultimodalSpec can pin 16-bit and 32-bit bands to identical
    * answers on a constructed set where both radii cover the truth.
    */
  private[graft] def mediaNearDupHistogram(groups: DataFrame,
      widthBits: Int): DataFrame = {
    require(64 % widthBits == 0 && 64 / widthBits >= 2,
      s"band width must divide 64 into >= 2 bands, got $widthBits")
    val bands = 64 / widthBits
    val exactDups = groups.filter(col("n") >= 2)
      .agg(sum(expr("(n * (n - 1)) DIV 2")).as("n_pairs"))
      .filter(col("n_pairs") > 0)
      .select(lit(-1L).as("hamming_bucket"), col("n_pairs"),
        lit(0L).as("min_hamming"))
    val keyed = groups.select(col("f"), col("n"),
      explode(sequence(lit(0), lit(bands - 1))).as("b"))
      .withColumn("band", expr(s"substr(f, 1 + b * $widthBits, $widthBits)"))
    val cand = keyed.as("a")
      .join(keyed.as("b"),
        col("a.b") === col("b.b") && col("a.band") === col("b.band") &&
          col("a.f") < col("b.f"))
      .select(col("a.f").as("f1"), col("b.f").as("f2"),
        col("a.n").as("n1"), col("b.n").as("n2"))
      .distinct()
    val near = cand
      // unrolled 64-term sum (the q276 fingerprint device): the
      // transform/aggregate lambda pair is interpreted per element
      // per candidate row; 64 codegen CASEs are one compiled function
      .withColumn("hamming", expr(
        (1 to 64).map(i =>
          s"CASE WHEN substr(f1, $i, 1) = substr(f2, $i, 1) THEN 0 " +
            "ELSE 1 END").mkString("", " + ", "")))
      .groupBy(expr("hamming DIV 8").cast("long").as("hamming_bucket"))
      .agg(sum(col("n1") * col("n2")).as("n_pairs"),
        min("hamming").cast("long").as("min_hamming"))
    exactDups.unionByName(near).orderBy("hamming_bucket")
  }

  val q276Oracle: String =
    """WITH m AS (SELECT doc_id, hex(encode(text)) AS h,
      |  octet_length(encode(text)) AS nb FROM documents
      | WHERE octet_length(encode(text)) >= 65),
      |fp AS (SELECT doc_id,
      |  list_reduce(list_transform(range(1, 65), i ->
      |    CASE WHEN substr(h,
      |        CAST(1 + 2 * (((i - 1) * (nb - 1)) // 64) AS BIGINT), 2)
      |      > substr(h,
      |        CAST(1 + 2 * ((i * (nb - 1)) // 64) AS BIGINT), 2)
      |    THEN '1' ELSE '0' END), (a, b) -> a || b) AS f
      | FROM m),
      |grp AS (SELECT f, CAST(count(*) AS BIGINT) AS n FROM fp
      | GROUP BY f),
      |exact AS (SELECT CAST(-1 AS BIGINT) AS hamming_bucket,
      |  CAST(sum((n * (n - 1)) // 2) AS BIGINT) AS n_pairs,
      |  CAST(0 AS BIGINT) AS min_hamming
      | FROM grp WHERE n >= 2
      | HAVING sum((n * (n - 1)) // 2) > 0),
      |w AS (SELECT CASE WHEN count(*) <= 16384 THEN 16 ELSE 32 END
      |  AS wb FROM grp),
      |bands AS (SELECT f, n,
      |  unnest(range(0, 64 // (SELECT wb FROM w))) AS b FROM grp),
      |keyed AS (SELECT f, n, b,
      |  substr(f, CAST(1 + b * (SELECT wb FROM w) AS BIGINT),
      |    (SELECT wb FROM w)) AS band FROM bands),
      |cand AS (SELECT DISTINCT a.f AS f1, b.f AS f2,
      |    a.n AS n1, b.n AS n2
      |  FROM keyed a JOIN keyed b
      |  ON a.b = b.b AND a.band = b.band AND a.f < b.f),
      |ham AS (SELECT n1, n2,
      |  CAST(64 - list_sum(list_transform(range(1, 65), i ->
      |    CASE WHEN substr(f1, CAST(i AS BIGINT), 1)
      |           = substr(f2, CAST(i AS BIGINT), 1)
      |    THEN 1 ELSE 0 END)) AS BIGINT) AS hamming
      | FROM cand),
      |near AS (SELECT CAST(hamming // 8 AS BIGINT) AS hamming_bucket,
      |  CAST(sum(n1 * n2) AS BIGINT) AS n_pairs,
      |  CAST(min(hamming) AS BIGINT) AS min_hamming
      | FROM ham GROUP BY 1)
      |SELECT * FROM exact UNION ALL SELECT * FROM near
      |ORDER BY hamming_bucket""".stripMargin

  def gates: Seq[graft.Gate] = Seq(
    gate("q47_media_features", q47MediaFeatures, q47Oracle),
    gate("q68_media_resize", q68MediaResize, q68Oracle),
    gate("q69_frame_sample", q69FrameSample, q69Oracle),
    gate("q276_media_near_dup", q276MediaNearDup, q276Oracle)
  )
}
