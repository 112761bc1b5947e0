package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every declared query has exactly one DuckDB oracle: a refactor of
  * the oracle registry that drops, renames or empties an entry fails
  * here instead of silently shrinking the correctness gate. */
class OracleCoverageSpec extends AnyFunSuite {
  private lazy val oracles = SparkEntry.oracleSql
  private lazy val names = SparkEntry.queries.keySet

  test("oracle keys equal query keys, 351 each") {
    assert(oracles.keySet == names,
      s"no oracle: ${(names -- oracles.keySet).toSeq.sorted}; " +
        s"no query: ${(oracles.keySet -- names).toSeq.sorted}")
    assert(names.size == 351)
    assert(oracles.size == 351)
  }

  test("every oracle is a non-empty WITH or SELECT statement") {
    oracles.foreach { case (name, sql) =>
      assert(sql.trim.nonEmpty, s"$name: empty oracle")
      assert(sql.startsWith("WITH") || sql.startsWith("SELECT"),
        s"$name: oracle starts with '${sql.take(20)}'")
    }
  }
}
