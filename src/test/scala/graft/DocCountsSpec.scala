package graft

import org.scalatest.funsuite.AnyFunSuite

/** Keeps the README's coverage claim tied to the actual surface so the
  * numbers can't drift (round-1 ADVICE: the doc understated coverage). */
class DocCountsSpec extends AnyFunSuite {

  test("README query/oracle counts match SparkEntry") {
    val readme = scala.io.Source.fromFile("README.md", "UTF-8")
    val text = try readme.mkString finally readme.close()
    val claim = """\((\d+) of (\d+)\) carry a\s*\nDuckDB oracle""".r
    claim.findFirstMatchIn(text) match {
      case Some(m) =>
        assert(m.group(1).toInt == SparkEntry.oracleSql.size,
          s"README claims ${m.group(1)} oracles; actual " +
            s"${SparkEntry.oracleSql.size}")
        assert(m.group(2).toInt == SparkEntry.queries.size,
          s"README claims ${m.group(2)} queries; actual " +
            s"${SparkEntry.queries.size}")
      case None => fail("README coverage claim '(N of M) carry a\\n" +
        "DuckDB oracle' not found — keep the sentence greppable")
    }
  }

  test("every oracle key names an existing query") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracles without queries: $missing")
  }

  // a key defined twice would otherwise be silently folded to the last one
  test("every query key has one domain module, which also defines its oracle") {
    val keys = SparkEntry.domains.flatMap(_.queries.keys)
    val twice = keys.diff(keys.distinct)
    assert(twice.isEmpty, s"query keys in two domains: $twice")
    for (m <- SparkEntry.domains) {
      val foreign = m.oracles.keySet -- m.queries.keySet
      val name = m.getClass.getSimpleName.stripSuffix("$")
      assert(foreign.isEmpty,
        s"$name defines oracles of other domains' queries: $foreign")
    }
  }
}
