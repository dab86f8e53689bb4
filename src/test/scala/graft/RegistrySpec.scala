package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The declared-query registry: the surface is 234 queries, and a name
  * declared twice fails when the registry is built. */
class RegistrySpec extends AnyFunSuite {
  test("every declared query has an oracle and no name collides across modules") {
    assert(SparkEntry.declared.size === 234)
    assert(SparkEntry.queries.size === 234)
    val d = Declared("q", (s: SparkSession, _: String) => s.emptyDataFrame, "SELECT 1")
    val e = intercept[IllegalArgumentException](SparkEntry.byName(Seq(d, d.copy(oracleSql = "SELECT 2"))))
    assert(e.getMessage.contains("declared more than once: q"))
  }
}
