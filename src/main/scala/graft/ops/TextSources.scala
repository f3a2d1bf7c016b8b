// Copyright (c) 2026 graft contributors
// SPDX-License-Identifier: Apache-2.0

package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables._

/** Text-format source/sink roundtrips ([EXT]): JSONL and CSV are how
  * corpora arrive at and leave a training pipeline (crawler output,
  * vendor drops, labeling exports). Each gate writes the documents
  * table through the format and reads it back with an EXPLICIT schema
  * (schema inference is a full extra pass at 100 TB — never pay it on
  * data you already know), then proves content fidelity through the
  * oracle: row counts, char sums, and a min-md5 content witness per
  * language must match the parquet original exactly — any
  * escaping/quoting corruption of even one document changes a hash.
  *
  * Scale shape: the write is partition-parallel (one file per task,
  * like any production export), the read-back is a parallel text scan,
  * and the fidelity report is one map-side-combinable aggregate.
  */
object TextSources extends graft.Gates {

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  private def fidelityReport(df: DataFrame): DataFrame =
    df.groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col("text")).cast("long")).as("sum_len"),
        min(md5(col("text"))).as("min_md5"))
      .orderBy("lang")

  private val fidelityOracle: String =
    """SELECT lang, count(*) AS n_docs,
      | CAST(sum(length(text)) AS BIGINT) AS sum_len,
      | min(md5(text)) AS min_md5
      |FROM documents
      |GROUP BY lang
      |ORDER BY lang""".stripMargin

  /** JSONL roundtrip: documents → line-delimited JSON → read back →
    * fidelity report. JSONL is newline-safe by construction (\n in
    * text escapes to \\n), so no reader options are needed beyond the
    * schema.
    */
  def q157JsonlRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val out = graft.Scratch.dir("graft_jsonl").toString + "/docs"
    documents(s, dir).write.mode("overwrite").json(out)
    fidelityReport(s.read.schema(docSchema).json(out))
  }

  val q157Oracle: String = fidelityOracle

  /** CSV roundtrip: the hostile case — document text contains commas,
    * quotes, and newlines, so the write quotes/escapes and the read
    * runs in multiLine mode (a quoted field may span physical lines).
    * multiLine costs per-file (not per-line) split granularity, which
    * is why a production export prefers JSONL for free-text columns —
    * the gate proves BOTH survive byte-exactly; the doc comment is the
    * recommendation.
    */
  def q158CsvRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val out = graft.Scratch.dir("graft_csv").toString + "/docs"
    documents(s, dir).write.mode("overwrite")
      .option("header", "true").option("escape", "\"")
      .csv(out)
    fidelityReport(
      s.read.schema(docSchema)
        .option("header", "true").option("multiLine", "true")
        .option("escape", "\"")
        .csv(out))
  }

  val q158Oracle: String = fidelityOracle

  /** ORC roundtrip: the other columnar warehouse format — a corpus
    * interchanged with Hive/Trino estates arrives as ORC. Unlike the
    * text formats the schema travels in the file footer, so the read
    * back needs no declared schema and the gate additionally proves
    * the footer-carried types survive (a LongType that came back as
    * IntegerType would hash-mismatch the report). Same vectorized
    * reader / predicate-pushdown machinery as parquet at scale.
    */
  def q193OrcRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val out = graft.Scratch.dir("graft_orc").toString + "/docs"
    documents(s, dir).select(col("doc_id"), col("text"), col("lang"),
      col("source"), col("n_chars")).write.mode("overwrite").orc(out)
    fidelityReport(s.read.orc(out))
  }

  val q193Oracle: String = fidelityOracle

  def gates: Seq[graft.Gate] = Seq(
    gate("q157_jsonl_roundtrip", q157JsonlRoundtrip, q157Oracle),
    gate("q158_csv_roundtrip", q158CsvRoundtrip, q158Oracle),
    gate("q193_orc_roundtrip", q193OrcRoundtrip, q193Oracle)
  )
}
