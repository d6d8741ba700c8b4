package graft

import org.scalatest.funsuite.AnyFunSuite

/** The query registry is the single source for Verify, Bench and every
  * caller of SparkEntry: one record per query, so the derived maps cannot
  * drift apart.
  */
class RegistrySpec extends AnyFunSuite {

  test("registry: 209 distinct names, every oracle non-empty, known classes") {
    val reg = SparkEntry.registry
    assert(reg.size == 209)
    // toMap over the Seq would silently drop a duplicate name
    val dups = reg.groupBy(_.name).collect { case (n, qs) if qs.size > 1 => n }
    assert(dups.isEmpty, s"duplicate names: $dups")
    assert(reg.forall(_.oracleSql.trim.nonEmpty),
      reg.filter(_.oracleSql.trim.isEmpty).map(_.name))
    val allowed = Set("pure", "write_demo", "stream_harness")
    assert(reg.forall(q => allowed(q.cls)),
      reg.filterNot(q => allowed(q.cls)).map(q => q.name -> q.cls))
  }

  test("flagshipSet names only registered queries") {
    // a typo here would silently drop a row from Bench's fork column
    val missing = SparkEntry.flagshipSet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"unregistered flagship names: $missing")
  }
}
