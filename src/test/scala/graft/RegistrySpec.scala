package graft

import org.scalatest.funsuite.AnyFunSuite

/** [[SparkEntry]]'s registry: every query object listed once, and the
  * two driver maps derived from that one list.
  */
class RegistrySpec extends AnyFunSuite {
  test("registry: per-object query and oracle counts sum to the merged maps") {
    val sets = SparkEntry.querySets
    assert(sets.size === 40)
    assert(sets.distinct.size === sets.size, "an object is listed twice")
    assert(sets.map(_.all.size).sum === SparkEntry.queries.size)
    assert(sets.map(_.oracles.size).sum === SparkEntry.oracleSql.size)
    assert(SparkEntry.queries.keySet === SparkEntry.oracleSql.keySet,
      "every judged query has exactly one oracle and every oracle a query")
  }

  test("registry: a name defined in two objects throws instead of shadowing") {
    val e = intercept[IllegalArgumentException](SparkEntry.merged("query",
      Seq(Map("q1" -> 1, "q2" -> 2), Map("q3" -> 3), Map("q2" -> 4))))
    assert(e.getMessage.contains("q2") && !e.getMessage.contains("q1"))
    assert(SparkEntry.merged("query", Seq(Map("a" -> 1), Map("b" -> 2))) ===
      Map("a" -> 1, "b" -> 2))
  }
}
