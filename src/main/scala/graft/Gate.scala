// Copyright (c) 2026 graft contributors
// SPDX-License-Identifier: Apache-2.0

package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One query of the driver contract: how to run it on a scale-factor
  * directory, the DuckDB SQL whose result it must match, and the bench
  * subtotal its time counts in.
  */
final case class Gate(name: String, run: (SparkSession, String) => DataFrame,
    oracle: String, kind: Gate.Kind)

object Gate {
  /** Bench subtotal. The DuckDB oracle answers lake-protocol and
    * streaming gates in closed form, without the commit protocol or the
    * micro-batches, so their time is reported apart from compute.
    */
  sealed abstract class Kind(val label: String)
  case object Compute extends Kind("compute")
  case object LakeProtocol extends Kind("lake_protocol")
  case object Streaming extends Kind("streaming")
  val kinds: Seq[Kind] = Seq(Compute, LakeProtocol, Streaming)

  /** Gates by name; a name declared twice is an error, never a query
    * silently replaced by another.
    */
  def byName(gates: Seq[Gate]): Map[String, Gate] = {
    val dups = gates.groupBy(_.name).collect { case (n, gs) if gs.size > 1 => n }
    require(dups.isEmpty,
      s"gate names declared more than once: ${dups.toSeq.sorted.mkString(", ")}")
    gates.map(g => g.name -> g).toMap
  }
}

/** A query module. Every gate it builds with [[gate]] has the module's
  * kind unless the gate names its own.
  */
abstract class Gates(moduleKind: Gate.Kind = Gate.Compute) {
  /** A `def`: oracles are vals that may be declared below the list. */
  def gates: Seq[Gate]

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Gate.byName(gates).map { case (n, g) => n -> g.run }

  protected def gate(name: String, run: (SparkSession, String) => DataFrame,
      oracle: String, kind: Gate.Kind = moduleKind): Gate =
    Gate(name, run, oracle, kind)
}
