// Copyright (c) 2026 graft contributors
// SPDX-License-Identifier: Apache-2.0

package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables._
import graft.functions.Ner
import graft.ops.Pseudonymise._

/** Driver-gate queries for the pseudonymisation / feature-extraction
  * surface (SURVEY.md §2.6–2.7). Where the transform is deterministic
  * and expressible in ANSI SQL (salted hashing, date rounding) the
  * oracle recomputes it; for the NER/annotator UDFs the queries build
  * deterministic input from testdata columns so the redacted/extracted
  * output is a closed-form constant the oracle can state directly —
  * a driver-visible golden test of the UDF path.
  */
object Privacy extends graft.Gates {

  /** Salted SHA-256 ID hashing through the real pseudonymisation op
    * (bit-compatible with the reference's golden,
    * tests/stages/test_pseudonymisation.py:208-224).
    */
  def q20HashIds(s: SparkSession, dir: String): DataFrame =
    hashHashableId(documents(s, dir).select("doc_id", "lang"),
      Seq("doc_id"), "documents")
      .select(col("doc_id_hashed"), col("lang"))
      .orderBy("doc_id_hashed")

  val q20Oracle: String =
    s"""SELECT sha256(concat(CAST(doc_id AS VARCHAR), '$HashSalt'))
      |   AS doc_id_hashed, lang
      |FROM documents
      |ORDER BY doc_id_hashed""".stripMargin

  /** DATE_TIME columns truncate to the hour (transform.py:83-114). */
  def q21RoundHour(s: SparkSession, dir: String): DataFrame =
    roundDatetimeColumns(events(s, dir).select("event_id", "ts"),
      Seq("ts"), "hour", "events")
      .select(col("event_id"), col("ts").cast("timestamp_ntz").as("ts_hour"))
      .orderBy("event_id")

  val q21Oracle: String =
    """SELECT event_id, CAST(date_trunc('hour', ts) AS TIMESTAMP) AS ts_hour
      |FROM events
      |ORDER BY event_id""".stripMargin

  /** DATE columns truncate to the month. */
  def q22RoundMonth(s: SparkSession, dir: String): DataFrame =
    roundDatetimeColumns(orders(s, dir).select("o_orderkey", "o_orderdate"),
      Seq("o_orderdate"), "month", "orders")
      .select(col("o_orderkey"),
        col("o_orderdate").cast("timestamp_ntz").as("order_month"))
      .orderBy("o_orderkey")

  val q22Oracle: String =
    """SELECT o_orderkey,
      | CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS order_month
      |FROM orders
      |ORDER BY o_orderkey""".stripMargin

  /** NER redaction golden through the driver gate: deterministic PII
    * text is constructed per row, so the redaction result is exactly
    * known to the oracle. Exercises PERSON/LOCATION/DATE_TIME/
    * EMAIL_ADDRESS recognizers and the in-place FREE_TEXT rewrite.
    */
  def q23RedactText(s: SparkSession, dir: String): DataFrame = {
    val withPii = documents(s, dir)
      .select(col("doc_id"),
        concat(lit("John Smith is in London on 2024-01-15, mail: user"),
          col("doc_id"), lit("@example.com")).as("note"))
    processFreeTextColumns(withPii, Seq("note"), Ner.anonymiseUdf, "documents")
      .orderBy("doc_id")
  }

  val q23Oracle: String =
    """SELECT doc_id,
      | '<PERSON> is in <LOCATION> on <DATE_TIME>, mail: <EMAIL_ADDRESS>'
      |   AS note
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  /** Feature extraction through the full orchestration (repartition →
    * seeded randomSplit over 3 keys → annotate → PK join-back → union,
    * feature_extraction.py:54-120) with nested-struct projection of the
    * result — deterministic input makes the flattened output a
    * closed-form constant.
    */
  def q24ExtractEntities(s: SparkSession, dir: String): DataFrame = {
    val clinical = documents(s, dir)
      .select(col("doc_id"),
        lit("severe headache since today, taking ibuprofen").as("note"))
    val config = TableConfig(
      columnTypes = Seq(FreeText -> Seq("note")),
      primaryKeys = Seq("doc_id"))
    Extract.extractFeatures(clinical, "documents", config, numKeys = 3)
      .select(col("doc_id"),
        concat_ws(",", col("note_extracted.document.entities.category"))
          .as("categories"),
        size(col("note_extracted.document.relations")).cast("long")
          .as("n_relations"))
      .orderBy("doc_id")
  }

  val q24Oracle: String =
    """SELECT doc_id,
      | 'ConditionQualifier,SymptomOrSign,Time,MedicationName' AS categories,
      | CAST(2 AS BIGINT) AS n_relations
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  /** Minimum equivalence-class size: classes smaller than this leak
    * (Sweeney's k-anonymity, k=3). Chosen against the testdata so the
    * gate exercises BOTH branches at the driver SFs: sf0.01 has 765
    * violating / 136 surviving level-1 classes, sf0.1 has 4 / 1371.
    */
  val AnonymityK = 3

  /** k-anonymity / l-diversity audit with one generalization step —
    * the privacy-engineering report a health-data release (the
    * reference's domain) runs before publishing a quasi-identified
    * extract. Quasi-identifiers: (nation, market segment, account-
    * balance band); sensitive attribute: the priority of the
    * customer's earliest order (their most identifying transactional
    * fact). Level-1 classes smaller than [[AnonymityK]] get the band
    * suppressed (one rung up the generalization ladder) and re-audit
    * at (nation, segment); the report carries k and l for every
    * surviving class plus the residual `meets_k` verdict.
    *
    * Scale shape: two aggregation passes and one semi-join against the
    * violating-class list. Class count is bounded by QI cardinality —
    * independent of row count — so the violator list BROADCASTS at any
    * corpus size; per-customer sensitive extraction is a map-side-
    * combinable min over a fixed-width sortable encoding (date + key +
    * priority), no window, no driver loop.
    */
  def q188KAnonymity(s: SparkSession, dir: String): DataFrame = {
    // earliest-order priority per customer: min over a lexicographic
    // encoding whose 23-char prefix (date, zero-padded orderkey) is a
    // total order — deterministic without a window, identical ASCII
    // collation in both engines
    val sens = customer(s, dir)
      .select(col("c_custkey"), col("c_nationkey"), col("c_mktsegment"),
        floor(col("c_acctbal") / 1000).cast("int").as("band"))
      .join(orders(s, dir).groupBy("o_custkey")
        .agg(substring(min(concat(
          date_format(col("o_orderdate"), "yyyy-MM-dd"),
          lpad(col("o_orderkey").cast("string"), 12, "0"), lit("|"),
          col("o_orderpriority"))), 24, 1000).as("sens")),
        col("c_custkey") === col("o_custkey"), "left")
      .select(col("c_nationkey"), col("c_mktsegment"), col("band"),
        coalesce(col("sens"), lit("NONE")).as("sens"))
    val l1 = sens.groupBy("c_nationkey", "c_mktsegment", "band")
      .agg(count(lit(1)).as("k"), countDistinct(col("sens")).as("l"))
    // the violating-class list is ≤ |QI domain| rows however large the
    // corpus — broadcast is structurally safe, not a small-data fluke
    val viol = broadcast(l1.filter(col("k") < AnonymityK)
      .select("c_nationkey", "c_mktsegment", "band"))
    val l2 = sens.join(viol, Seq("c_nationkey", "c_mktsegment", "band"))
      .groupBy("c_nationkey", "c_mktsegment")
      .agg(count(lit(1)).as("k"), countDistinct(col("sens")).as("l"))
    l1.filter(col("k") >= AnonymityK)
      .select(lit(1).as("level"), col("c_nationkey"), col("c_mktsegment"),
        col("band"), col("k"), col("l"),
        (col("k") >= AnonymityK).as("meets_k"))
      .unionByName(l2.select(lit(2).as("level"), col("c_nationkey"),
        col("c_mktsegment"), lit(null).cast("int").as("band"), col("k"),
        col("l"), (col("k") >= AnonymityK).as("meets_k")))
      .orderBy("level", "c_nationkey", "c_mktsegment", "band")
  }

  val q188Oracle: String =
    """WITH sens AS (
      |  SELECT c.c_nationkey, c.c_mktsegment,
      |    CAST(floor(c.c_acctbal/1000) AS INT) AS band,
      |    coalesce(o.sens, 'NONE') AS sens
      |  FROM customer c LEFT JOIN (
      |    SELECT o_custkey, substr(min(concat(
      |        strftime(o_orderdate, '%Y-%m-%d'),
      |        lpad(CAST(o_orderkey AS VARCHAR), 12, '0'), '|',
      |        o_orderpriority)), 24, 1000) AS sens
      |    FROM orders GROUP BY o_custkey) o ON c.c_custkey = o.o_custkey),
      |l1 AS (SELECT c_nationkey, c_mktsegment, band, count(*) AS k,
      |    count(DISTINCT sens) AS l FROM sens GROUP BY 1, 2, 3),
      |viol AS (SELECT c_nationkey, c_mktsegment, band FROM l1 WHERE k < 3),
      |l2 AS (SELECT s.c_nationkey, s.c_mktsegment, count(*) AS k,
      |    count(DISTINCT s.sens) AS l
      |  FROM sens s JOIN viol v USING (c_nationkey, c_mktsegment, band)
      |  GROUP BY 1, 2)
      |SELECT CAST(1 AS INT) AS level, c_nationkey, c_mktsegment, band,
      |  k, l, k >= 3 AS meets_k
      |FROM l1 WHERE k >= 3
      |UNION ALL
      |SELECT CAST(2 AS INT), c_nationkey, c_mktsegment,
      |  CAST(NULL AS INT), k, l, k >= 3
      |FROM l2
      |ORDER BY level, c_nationkey, c_mktsegment, band""".stripMargin

  /** Entropy l-diversity (q266) — the third leg of the anonymity
    * triad (q188 k-anonymity, q210 t-closeness): a QI class with k
    * large can still leak when one sensitive value DOMINATES it, which
    * distinct-l cannot see. Entropy l-diversity (Machanavajjhala et
    * al., ICDE 2006) requires H(class) ≥ ln(l): per-class Shannon
    * entropy of the sensitive-value distribution, compared against
    * ln 3. QI = (nation, market segment); sensitive = account-balance
    * band. One grouped scan to (class, value) counts, a second
    * class-bounded fold; per-value entropy terms are 6-dp-rounded and
    * DECIMAL-quantized before the order-independent per-class sum
    * (the q243/q261 discipline — the value count per class varies, so
    * a raw double aggregate would be summation-order-dependent).
    */
  def q266EntropyLDiversity(s: SparkSession, dir: String): DataFrame =
    entropyLDiversityFrom(customer(s, dir)
      .select(col("c_nationkey"), col("c_mktsegment"),
        floor(col("c_acctbal") / 2000).cast("int").as("sens")))

  /** [[q266EntropyLDiversity]] over an explicit
    * `(c_nationkey, c_mktsegment, sens)` frame — factored so
    * PrivacySpec can pin the closed-form endpoints: a uniform
    * 3-value class sits exactly AT ln 3 (meets), a single-value class
    * at 0 (fails), and a 90%-dominated class with l_distinct = 3
    * fails — the leak distinct-l cannot see.
    */
  private[graft] def entropyLDiversityFrom(sens: DataFrame): DataFrame = {
    val lnL = 1.098612 // ln 3 on the same 6-dp grid as the entropy
    val cells = sens
      .groupBy("c_nationkey", "c_mktsegment", "sens")
      .agg(count(lit(1)).as("cnt"))
    val classes = cells.groupBy("c_nationkey", "c_mktsegment")
      .agg(sum(col("cnt")).as("n"), count(lit(1)).as("l_distinct"))
    val p = col("cnt").cast("double") / col("n").cast("double")
    cells.join(classes, Seq("c_nationkey", "c_mktsegment"))
      .select(col("c_nationkey"), col("c_mktsegment"), col("n"),
        col("l_distinct"),
        round(-p * log(p), 6).cast("decimal(18,6)").as("term"))
      .groupBy("c_nationkey", "c_mktsegment", "n", "l_distinct")
      .agg(round(sum(col("term")).cast("double"), 6).as("entropy"))
      .withColumn("meets_entropy_l3", col("entropy") >= lnL)
      .orderBy("c_nationkey", "c_mktsegment")
  }

  val q266Oracle: String =
    """WITH cells AS (SELECT c_nationkey, c_mktsegment,
      |  CAST(floor(c_acctbal / 2000) AS INT) AS sens,
      |  count(*) AS cnt
      | FROM customer GROUP BY 1, 2, 3),
      |classes AS (SELECT c_nationkey, c_mktsegment,
      |  CAST(sum(cnt) AS BIGINT) AS n,
      |  CAST(count(*) AS BIGINT) AS l_distinct
      | FROM cells GROUP BY 1, 2),
      |terms AS (SELECT c.c_nationkey, c.c_mktsegment, k.n, k.l_distinct,
      |  CAST(round(-(CAST(c.cnt AS DOUBLE) / CAST(k.n AS DOUBLE))
      |    * ln(CAST(c.cnt AS DOUBLE) / CAST(k.n AS DOUBLE)), 6)
      |    AS DECIMAL(18,6)) AS term
      | FROM cells c JOIN classes k USING (c_nationkey, c_mktsegment))
      |SELECT c_nationkey, c_mktsegment, n, l_distinct,
      |  round(CAST(sum(term) AS DOUBLE), 6) AS entropy,
      |  round(CAST(sum(term) AS DOUBLE), 6) >= 1.098612
      |    AS meets_entropy_l3
      |FROM terms GROUP BY 1, 2, 3, 4
      |ORDER BY c_nationkey, c_mktsegment""".stripMargin

  /** DP release budget for [[q189DpCounts]] (Laplace mechanism,
    * Dwork et al. TCC 2006: count queries have sensitivity 1, so
    * noise ~ Laplace(1/ε) makes the release ε-DP).
    */
  val DpEpsilon = 1.0

  /** ε-differentially-private group counts — the release mechanism a
    * data custodian applies before publishing per-cohort tallies from
    * a sensitive corpus. True per-nation customer counts get Laplace
    * (1/ε) noise via inverse-CDF sampling; the uniform draw comes from
    * a SEEDED integer LCG over the group key (exact int64 arithmetic,
    * identical in any engine), which keeps the mechanism's output
    * deterministic and therefore hash-gateable — a production release
    * would swap the LCG for a CSPRNG, changing one expression.
    * BECAUSE the noise is a public function of the group key, this
    * fixture provides NO actual privacy (the release is exactly
    * invertible); the budget column is therefore named
    * `epsilon_nominal` — the ε the mechanism WOULD spend with a real
    * noise source — so no consumer can mistake the deterministic
    * test device for an ε-DP guarantee.
    *
    * Scale shape: one map-side-combinable count per group plus a
    * handful of per-GROUP scalar expressions — noise cost is O(groups),
    * zero extra shuffles, no driver state.
    */
  def q189DpCounts(s: SparkSession, dir: String): DataFrame = {
    // u in (0,1), never exactly 0.5: (lcg + 0.5) / 2^31 with integer
    // lcg — so the inverse CDF below never hits ln(0)
    val lcg = pmod(col("c_nationkey").cast("long") * 1103515245L + 12345L,
      lit(2147483648L))
    val u = (lcg + lit(0.5)) / lit(2147483648.0)
    // Laplace(b = 1/ε) inverse CDF at u; 6-dp rounding absorbs the
    // sub-ulp libm spread of ln across engines
    val noise = round(
      (-lit(1.0) / DpEpsilon) * signum(u - 0.5) *
        log(lit(1.0) - lit(2.0) * abs(u - 0.5)), 6)
    customer(s, dir).groupBy("c_nationkey")
      .agg(count(lit(1)).as("n_true"))
      .select(col("c_nationkey"),
        round(col("n_true") + noise, 6).as("n_noisy"),
        lit(DpEpsilon).as("epsilon_nominal"))
      .orderBy("c_nationkey")
  }

  val q189Oracle: String =
    """WITH g AS (SELECT c_nationkey, count(*) AS n_true
      |  FROM customer GROUP BY c_nationkey),
      |u AS (SELECT c_nationkey, n_true,
      |  ((CAST(c_nationkey AS BIGINT) * 1103515245 + 12345)
      |     % 2147483648 + 0.5) / 2147483648.0 AS u
      |  FROM g)
      |SELECT c_nationkey,
      |  round(n_true + round(-1.0 * sign(u - 0.5)
      |    * ln(1.0 - 2.0 * abs(u - 0.5)), 6), 6) AS n_noisy,
      |  1.0 AS epsilon_nominal
      |FROM u
      |ORDER BY c_nationkey""".stripMargin

  /** t-closeness audit (Li, Li & Venkatasubramanian, ICDE 2007) — the
    * step beyond q188's k-anonymity/l-diversity: a class can be
    * k-anonymous and l-diverse yet leak through its sensitive-value
    * DISTRIBUTION skew. For the ordered sensitive attribute (account-
    * balance band), distance from the global distribution is the 1-D
    * earth-mover's distance EMD = Σ_k |P_cum(k) − Q_cum(k)| / (m−1),
    * and the class meets t-closeness iff EMD ≤ t = 0.2.
    *
    * Exactness: every cumulative gap is the INTEGER N·C_k − n·G_k over
    * a common denominator n·N, so the whole audit reduces to integer
    * sums with ONE final rounded division per class, and the meets_t
    * decision is the cross-multiplied integer compare 5·Σ|gap| ≤
    * n·N·(m−1) — no float ever decides. (int64 holds ~10·N²; past
    * N ≈ 10⁹ rows the sums swap to decimal128.)
    *
    * Scale: one (class, band) aggregate + one class aggregate, both
    * map-side-combinable; the band histogram (m ≤ 11 rows) and the
    * 1-row total broadcast; the per-class window orders m rows. Both
    * decision branches fire at the sf0.01 gate (123 meet / 2 fail);
    * at sf0.1 every class meets — larger samples converge to the
    * global distribution, which is itself the audit working.
    */
  def q210TCloseness(s: SparkSession, dir: String): DataFrame = {
    val c = customer(s, dir).select(
      col("c_nationkey").as("nation"), col("c_mktsegment").as("segment"),
      floor(col("c_acctbal") / 1100).cast("long").as("band"))
    val g = c.groupBy("band").agg(count(lit(1)).as("gc"))
    val n = c.agg(count(lit(1)).as("nt"))
    val cls = c.groupBy("nation", "segment", "band")
      .agg(count(lit(1)).as("cc"))
    val sz = c.groupBy("nation", "segment").agg(count(lit(1)).as("nc"))
    val grid = sz.crossJoin(broadcast(g))
      .join(cls, Seq("nation", "segment", "band"), "left")
      .withColumn("cc", coalesce(col("cc"), lit(0L)))
    val w = Window.partitionBy("nation", "segment").orderBy("band")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = grid.crossJoin(broadcast(n))
      .withColumn("ck", sum("cc").over(w))
      .withColumn("gk", sum("gc").over(w))
    val emd = cum.groupBy("nation", "segment")
      .agg(first("nc").as("nc"), first("nt").as("nt"),
        sum(abs(col("nt") * col("ck") - col("nc") * col("gk")))
          .as("num"),
        count(lit(1)).as("m"))
    emd.select(col("nation"), col("segment"), col("nc").as("n"),
        round(col("num").cast("double") /
          (col("nc") * col("nt") * (col("m") - 1)), 6).as("emd"),
        (lit(5) * col("num") <= col("nc") * col("nt") * (col("m") - 1))
          .as("meets_t"))
      .orderBy("nation", "segment")
  }

  val q210Oracle: String =
    """WITH c AS (SELECT c_nationkey AS nation, c_mktsegment AS segment,
      |    CAST(floor(c_acctbal/1100) AS BIGINT) AS band FROM customer),
      |g AS (SELECT band, count(*) AS gc FROM c GROUP BY 1),
      |n AS (SELECT count(*) AS nt FROM c),
      |cls AS (SELECT nation, segment, band, count(*) AS cc
      |  FROM c GROUP BY 1, 2, 3),
      |sz AS (SELECT nation, segment, count(*) AS nc FROM c GROUP BY 1, 2),
      |grid AS (SELECT s.nation, s.segment, s.nc, g.band, g.gc,
      |    coalesce(cl.cc, 0) AS cc
      |  FROM sz s CROSS JOIN g
      |  LEFT JOIN cls cl ON cl.nation = s.nation
      |    AND cl.segment = s.segment AND cl.band = g.band),
      |cum AS (SELECT nation, segment, nc, band,
      |    sum(cc) OVER w AS ck, sum(gc) OVER w AS gk
      |  FROM grid
      |  WINDOW w AS (PARTITION BY nation, segment ORDER BY band
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |emd AS (SELECT nation, segment, any_value(nc) AS nc,
      |    any_value(nt) AS nt,
      |    CAST(sum(abs(nt * ck - nc * gk)) AS BIGINT) AS num,
      |    count(*) AS m
      |  FROM cum CROSS JOIN n GROUP BY 1, 2)
      |SELECT nation, segment, CAST(nc AS BIGINT) AS n,
      |  round(CAST(num AS DOUBLE) / (nc * nt * (m - 1)), 6) AS emd,
      |  5 * num <= nc * nt * (m - 1) AS meets_t
      |FROM emd ORDER BY nation, segment""".stripMargin

  def gates: Seq[graft.Gate] = Seq(
    gate("q266_entropy_l_diversity", q266EntropyLDiversity, q266Oracle),
    gate("q210_t_closeness", q210TCloseness, q210Oracle),
    gate("q20_hash_ids", q20HashIds, q20Oracle),
    gate("q21_round_hour", q21RoundHour, q21Oracle),
    gate("q22_round_month", q22RoundMonth, q22Oracle),
    gate("q23_redact_text", q23RedactText, q23Oracle),
    gate("q24_extract_entities", q24ExtractEntities, q24Oracle),
    gate("q188_k_anonymity", q188KAnonymity, q188Oracle),
    gate("q189_dp_counts", q189DpCounts, q189Oracle)
  )
}
