// Copyright (c) 2026 graft contributors
// SPDX-License-Identifier: Apache-2.0

package graft

import org.scalatest.funsuite.AnyFunSuite

/** The query registry: every contract view derives from the modules'
  * gates, so these invariants hold for all of them at once.
  */
class GateRegistrySpec extends AnyFunSuite {
  private val gates = SparkEntry.modules.flatMap(_.gates)

  test("gate names are unique across all modules") {
    val dups = gates.groupBy(_.name).collect { case (n, gs) if gs.size > 1 => n }
    assert(dups.isEmpty, s"declared more than once: ${dups.mkString(", ")}")
  }

  test("a name declared in two modules is rejected, not dropped") {
    val e = intercept[IllegalArgumentException](
      Gate.byName(gates :+ gates.head.copy(run = gates.last.run)))
    assert(e.getMessage.contains(gates.head.name))
  }

  test("every oracle is non-blank") {
    assert(gates.filter(_.oracle.trim.isEmpty).map(_.name).isEmpty)
  }

  test("queries and oracleSql cover the same 289 gates") {
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
    assert(SparkEntry.queries.size == 289)
  }

  test("each module's queries are exactly its gates") {
    SparkEntry.modules.foreach { m =>
      assert(m.queries.keySet == m.gates.map(_.name).toSet, m.toString)
    }
  }
}
