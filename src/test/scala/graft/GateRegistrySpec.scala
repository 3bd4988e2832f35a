package graft

import org.scalatest.funsuite.AnyFunSuite

/** The gate registry on its own, without a SparkSession: every gate is
  * declared once, carries a non-blank oracle, and names a valid Verify
  * output directory; `queries` and `oracleSql` are views of it.
  */
class GateRegistrySpec extends AnyFunSuite {
  private val gates = SparkEntry.gates

  test("gate names are unique") {
    val dups = gates.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }
    assert(dups.isEmpty, s"declared more than once: ${dups.mkString(", ")}")
  }

  test("every gate carries a non-blank oracle") {
    val blank = gates.filter(_.oracle.trim.isEmpty).map(_.name)
    assert(blank.isEmpty, s"blank oracle: ${blank.mkString(", ")}")
  }

  test("every gate name is a valid output directory name") {
    val bad = gates.map(_.name).filterNot(_.matches("[a-z0-9_]+"))
    assert(bad.isEmpty, s"not [a-z0-9_]+: ${bad.mkString(", ")}")
  }

  test("queries and oracleSql are keyed by exactly the gates") {
    val names = gates.map(_.name).toSet
    assert(SparkEntry.queries.keySet === names)
    assert(SparkEntry.oracleSql.keySet === names)
    assert(gates.forall(g => SparkEntry.oracleSql(g.name) == g.oracle))
  }
}
