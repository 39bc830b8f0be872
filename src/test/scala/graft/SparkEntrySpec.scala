package graft

import org.scalatest.funsuite.AnyFunSuite

/** Driver-contract checks: entry() returns rows on sf0.001; every oracle
  * key has a registered query; no duplicate query names across modules.
  */
class SparkEntrySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("entry() flagship returns rows on the smoke fixture") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracle key has a matching registered query") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracles without queries: $missing")
  }

  test("module registries do not shadow each other's query names") {
    val perModule = registry.Registry.families.map(_.queries)
    val names = perModule.flatMap(_.keys)
    val dups = names.groupBy(identity).filter(_._2.size > 1).keys
    assert(dups.isEmpty, s"duplicate query names: $dups")
    assert(names.size === SparkEntry.queries.size)
  }
}
