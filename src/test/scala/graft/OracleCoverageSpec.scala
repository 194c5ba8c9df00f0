package graft

import org.scalatest.funsuite.AnyFunSuite

/** The query registry ([[SparkEntry.registry]]) carries each query's
  * Spark code and its DuckDB oracle side by side; Verify writes every
  * query through the `queries` view and the oracles through the
  * `oracleSql` view, and `tools/check_oracle.py` checks one against the
  * other, so the two views' key sets must agree. */
class OracleCoverageSpec extends AnyFunSuite {

  test("every query has an oracle and every oracle a query") {
    val queries = SparkEntry.queries.keySet
    val oracles = SparkEntry.oracleSql.keySet
    assert((queries -- oracles).isEmpty, s"queries without an oracle: ${queries -- oracles}")
    assert((oracles -- queries).isEmpty, s"oracles without a query: ${oracles -- queries}")
  }

  // the views are Maps built from a Seq: a repeated name would silently
  // keep only its last spec and drop the other query from Verify
  test("query names are unique, and there are 202") {
    val names = SparkEntry.registry.map(_.name)
    val repeated = names.groupBy(identity).collect { case (n, ns) if ns.size > 1 => n }
    assert(repeated.isEmpty, s"repeated query names: $repeated")
    assert(names.size == 202)
  }
}
