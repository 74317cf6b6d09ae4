package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.queries.{NoOracle, OracleSql, Queries}

/** The query catalog's one list of definitions: what the three driver maps
  * derive from it, and what every definition must state. */
class QueryRegistrySpec extends AnyFunSuite {

  private val defs = Queries.defs

  private def dups[A](xs: Seq[A]): Set[A] =
    xs.groupBy(identity).collect { case (x, g) if g.size > 1 => x }.toSet

  test("names and their qNNN numbers are unique") {
    assert(defs.nonEmpty)
    assert(defs.forall(_.name.matches("q[0-9]+_[a-z0-9_]+")),
      defs.map(_.name).filterNot(_.matches("q[0-9]+_[a-z0-9_]+")))
    assert(dups(defs.map(_.name)).isEmpty)
    assert(dups(defs.map(_.number)).isEmpty)
  }

  test("every definition has oracle SQL or a stated reason it has none") {
    val missing = defs.filter(_.oracle match {
      case OracleSql(sql) => sql.trim.isEmpty
      case NoOracle(reason) => reason.trim.isEmpty
    })
    assert(missing.isEmpty, s"no oracle and no reason: ${missing.map(_.name)}")
  }

  test("the bench list is a subset of the names, in query-number order") {
    val names = defs.map(_.name).toSet
    assert(SparkEntry.benchQueries.toSet.subsetOf(names))
    assert(SparkEntry.benchQueries ===
      SparkEntry.benchQueries.sortBy(_.drop(1).takeWhile(_.isDigit).toInt))
  }

  test("the driver maps are derived from the definitions") {
    assert(SparkEntry.queries.keySet === defs.map(_.name).toSet)
    assert(SparkEntry.oracleSql.keySet ===
      defs.collect { case d if d.oracle.isInstanceOf[OracleSql] => d.name }.toSet)
    assert(SparkEntry.benchQueries === defs.filter(_.bench).map(_.name))
    assert(SparkEntry.queries.size === defs.size)
  }
}
