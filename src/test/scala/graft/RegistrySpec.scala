package graft

import org.scalatest.funsuite.AnyFunSuite

/** The declared-query registry: every query has a DuckDB oracle, and no
  * module's query is lost to a name collision in the merged maps. */
class RegistrySpec extends AnyFunSuite {
  test("every declared query has an oracle and no name collides across modules") {
    assert(SparkEntry.queries.keySet === SparkEntry.oracleSql.keySet)
    assert(SparkEntry.moduleQueries.map(_.size).sum === SparkEntry.queries.size)
    assert(SparkEntry.moduleOracles.map(_.size).sum === SparkEntry.oracleSql.size)
    assert(SparkEntry.moduleQueries.size === SparkEntry.moduleOracles.size)
    SparkEntry.moduleQueries.zip(SparkEntry.moduleOracles).foreach { case (q, o) =>
      assert(q.keySet === o.keySet)
    }
  }
}
