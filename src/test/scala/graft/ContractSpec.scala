package graft

/** Driver-contract hygiene: the oracle map may only reference declared
  * queries (a typo'd key would silently never be hash-checked), query
  * names stay within the expected charset and never repeat,
  * every literal pin is in use, and the flagship entry answers on the
  * smoke fixture.
  */
class ContractSpec extends SparkSpec {

  test("every oracle key names a declared query") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracles without queries: $orphans")
  }

  test("query names are stable identifiers") {
    val bad = SparkEntry.queries.keys.filterNot(_.matches("[a-z0-9_]+"))
    assert(bad.isEmpty, s"non-identifier query names: $bad")
  }

  test("deriving the maps from rows with a repeated name throws and " +
      "names the duplicate") {
    val run: (org.apache.spark.sql.SparkSession, String) =>
      org.apache.spark.sql.DataFrame = (s, _) => s.emptyDataFrame
    val rows = Seq(Declared("a", run, "SELECT 1", readsMemos = false),
      Declared("dup_row", run, "SELECT 2", readsMemos = false),
      Declared("dup_row", run, "SELECT 3", readsMemos = true))
    val e = intercept[IllegalArgumentException](Declared.byName(rows))
    assert(e.getMessage.contains("dup_row"), e.getMessage)
  }

  test("every distinct GeneratedOracles pin is some declared row's oracle") {
    val used = SparkEntry.declared.map(_.oracle).toSet
    val orphans = GeneratedOracles.pins.collect {
      case (name, sql) if !used(sql) => name
    }
    assert(orphans.isEmpty, s"pins no declared row references: $orphans")
    assert(GeneratedOracles.pins.values.toSet.size == GeneratedOracles.pins.size,
      "a pin text is stored twice; share it by name instead")
  }

  test("flagship entry returns rows on the smoke fixture") {
    assert(SparkEntry.entry(spark).count() > 0)
  }
}
