package graft

import org.scalatest.funsuite.AnyFunSuite

/** The query registry is the one place a driver query is declared: the two
  * driver maps derive from it, so they must agree, and every name the bench
  * times must resolve before a bench run does.
  */
class QueryRegistrySpec extends AnyFunSuite {

  test("the registry holds 120 queries with distinct names") {
    val names = SparkEntry.registry.map(_.name)
    assert(names.size == 120)
    assert(names.distinct.size == names.size)
  }

  test("queries and oracleSql have the same non-empty key set") {
    assert(SparkEntry.queries.nonEmpty)
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
    assert(SparkEntry.queries.keySet == SparkEntry.registry.map(_.name).toSet)
  }

  test("every oracle SQL string is non-empty") {
    val empty = SparkEntry.oracleSql.collect { case (n, sql) if sql.trim.isEmpty => n }
    assert(empty.isEmpty)
  }

  test("every query graft.Bench times resolves in SparkEntry.queries") {
    val timed = Bench.singles.map(_._2)
    assert(timed.size == 52)
    assert(timed.distinct.size == timed.size)
    assert(timed.filterNot(SparkEntry.queries.contains).isEmpty)
  }

  test("a name declared twice fails the map build instead of dropping one") {
    val q = SparkEntry.registry.head
    val err = intercept[IllegalArgumentException] {
      SparkEntry.byName(Seq(q, q.copy(oracle = "SELECT 1")))(_.oracle)
    }
    assert(err.getMessage.contains(q.name))
  }
}
