package graft

import org.scalatest.funsuite.AnyFunSuite

/** Driver-contract catalog invariants. Round 4's verdict found the docs
  * saying "56-query catalog" while the catalog enumerated 57 — this spec
  * pins the doc'd counts to `SparkEntry.queries` so they cannot drift
  * silently again. */
class CatalogSpec extends AnyFunSuite {

  test("every catalog query has a DuckDB oracle (no rows-only rows left)") {
    val missing = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(missing.isEmpty, s"queries without an oracleSql twin: $missing")
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracleSql entries with no query: $orphans")
  }

  test("README and SURVEY query counts match the catalog") {
    val n = SparkEntry.queries.size
    val pat = """(\d+)-query catalog""".r
    Seq("README.md", "SURVEY.md", ".claude/skills/verify/SKILL.md").foreach { f =>
      val text = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(f)), "UTF-8")
      val counts = pat.findAllMatchIn(text).map(_.group(1).toInt).toList
      assert(counts.nonEmpty, s"$f no longer states the catalog size")
      counts.foreach(c => assert(c == n,
        s"$f says '$c-query catalog' but SparkEntry.queries has $n entries"))
    }
  }

  test("every Bench group names catalog queries") {
    // a renamed catalog entry would otherwise only show as a -1 row
    val unknown = (Bench.Headline ++ Bench.GraphGroup).filterNot(SparkEntry.queries.contains)
    assert(unknown.isEmpty, s"Bench rows with no catalog query: $unknown")
  }

}
