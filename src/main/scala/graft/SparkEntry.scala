// Copyright (c) 2026 graft contributors
// SPDX-License-Identifier: Apache-2.0

package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
/** Driver contract — see SURVEY.md §7. */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    ops.Relational.q1PricingSummary(spark, "/root/testdata/sf0.001")

  /** The query modules; every view below derives from their gates. */
  def modules: Seq[Gates] = Seq(ops.Relational, ops.Pipeline, ops.Privacy,
    ops.TextAnalysis, ops.Dedup, ops.Similarity, ops.Multimodal,
    streaming.EventsStream, ops.EventsOps, ops.Sampling, ops.Vectors,
    streaming.StreamOps, ops.Chunking, ops.Skew, ops.Profiling, ops.Reshape,
    ops.CorpusHygiene, ops.Layout, ops.HeavyHitters, ops.Ivm, ops.Features,
    ops.TextSources, ops.Eval, streaming.CdfStream)

  def gates: Map[String, Gate] = Gate.byName(modules.flatMap(_.gates))

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    gates.map { case (n, g) => n -> g.run }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. */
  def oracleSql: Map[String, String] =
    gates.map { case (n, g) => n -> g.oracle }
}
