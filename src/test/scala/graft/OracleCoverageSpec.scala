package graft

import org.scalatest.funsuite.AnyFunSuite

/** The query registry and its DuckDB oracles are two name-keyed maps in
  * [[SparkEntry]]; Verify writes every query and `tools/check_oracle.py`
  * checks each against its oracle, so the two key sets must agree. */
class OracleCoverageSpec extends AnyFunSuite {

  test("every query has an oracle and every oracle a query") {
    val queries = SparkEntry.queries.keySet
    val oracles = SparkEntry.oracleSql.keySet
    assert((queries -- oracles).isEmpty, s"queries without an oracle: ${queries -- oracles}")
    assert((oracles -- queries).isEmpty, s"oracles without a query: ${oracles -- queries}")
  }
}
