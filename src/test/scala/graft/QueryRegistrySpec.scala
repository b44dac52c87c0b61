package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.queries.Builds

/** The query registry's invariants, checked without a Spark job: each
  * query is declared once with a non-blank oracle, the `qNN` number
  * tokens that [[Verify.wanted]] selects on are unique, and the build
  * rows have unique names distinct from the queries'. */
class QueryRegistrySpec extends AnyFunSuite {
  private val names = SparkEntry.specs.map(_.name)

  test("query names are unique") {
    assert(names.diff(names.distinct).isEmpty)
    assert(names.size == 210)
  }

  test("qNN number tokens are unique, so SPARK_GRAFT_ONLY=qNN picks one query") {
    val tokens = names.map(_.takeWhile(_ != '_'))
    assert(tokens.forall(_.matches("q\\d+")))
    assert(tokens.diff(tokens.distinct).isEmpty)
    tokens.foreach { t =>
      assert(names.count(n => Verify.wanted(Some(Set(t)), n)) == 1, t)
    }
  }

  test("every query has a non-blank oracle") {
    SparkEntry.specs.foreach(q => assert(q.oracle().trim.nonEmpty, q.name))
  }

  test("the query and oracle maps cover the same names") {
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
    assert(SparkEntry.queries.keySet == names.toSet)
  }

  test("build-row names are unique and never a query name") {
    val rows = Builds.rowList.map(_._1)
    assert(rows.diff(rows.distinct).isEmpty)
    assert(rows.size == 12 && rows.forall(_.endsWith("_build")))
    assert(rows.toSet.intersect(names.toSet).isEmpty)
  }
}
