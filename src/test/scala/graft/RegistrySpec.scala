package graft

import org.scalatest.funsuite.AnyFunSuite

/** The shape of [[SparkEntry]]'s two maps, which are kept in step by
  * hand: every oracle names a registered query, and the queries without
  * one are exactly those SparkEntry's closing comment justifies.
  */
class RegistrySpec extends AnyFunSuite {

  private def prefix(name: String): String = name.takeWhile(_ != '_')

  test("every oracle names a registered query") {
    val unknown = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(unknown.isEmpty, s"oracles without a query: $unknown")
  }

  test("the queries without an oracle are the documented twelve") {
    val rowsOnly = (SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet)
      .map(prefix)
    assert(rowsOnly === Set("q31", "q39", "q44", "q72", "q73", "q74", "q79",
      "q80", "q127", "q139", "q161", "q162"))
  }
}
